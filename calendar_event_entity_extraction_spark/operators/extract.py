"""The extraction core: transcripts → 8-field calendar events.

Replaces the reference's learned extractor (LoRA SmolLM-360M greedy decode,
``src/evaluate_finetuned.py:23-46``) with deterministic, declarative Column
expressions fitted to the reference's OWN annotations — the rules are
measured over its 792 raw rows and validated against its held-out splits
(``scripts/eval_reference_corpus.py``). All expressions are JVM-side regex /
string builtins → whole-stage codegen, narrow (no shuffle), fully parallel.

Optional broadcast dictionaries (the J2 entity-linking story) raise recall on
dictionary-dependent mentions: bare post-time locations ("… 13:00 Lobby
30mins") and single bare attendee names ("Meet Madison at …") are only
resolvable against known-entity pools, built by ``build_lexicons`` from a
training corpus (the reference's entity pools, ``augmentation/
entity_pools.py``).

Mention detection: a user turn is a calendar request iff it contains both a
date mention and a time mention (reference corpus: date/time null rate 0%).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.datetime_norm import (
    DATE_ANY_RE,
    MON3_ALT,
    MONTH_WORD,
    TIME_ANY_RE,
    date_norm_col,
    duration_norm_col,
    time_norm_col,
)

# default medium dictionary (reference MEDIUMS, faker_synth.py:21, plus
# BlueJeans — a standard VC platform the corpus golds as a location)
DEFAULT_MEDIUMS = [
    "Google Meet", "Microsoft Teams", "Slack huddle",
    "Zoom", "Teams", "Skype", "Webex", "BlueJeans",
]

REC_ALT = (
    "biweekly|weekly|monthly|daily|quarterly|annual|"
    "Biweekly|Weekly|Monthly|Daily|Quarterly|Annual"
)
REC_RE = rf"\b({REC_ALT})\b"

NAME = r"[A-Z][a-z]+"

# clause markers that end a free-text span (action / attendee / location)
# " for " stops only before a duration / date / "it" — gold actions run
# THROUGH a topical for ("Add a slot for feedback sessions", "Plan for a
# progress update"; 7 keep-through-for golds, 0 stop-before-topical-for)
_FOR_STOP = (
    r" for (?=(?:about |around |roughly |a solid |a full |an hour|a few "
    r"|a couple |half an|one hour|one[- ]hour|it\b|\d)"
    rf"|{MONTH_WORD}\.?,? ?\d)"
)
_STOP = (
    # " over " stops only before a medium — corpus actions KEEP phrasal
    # over ("Go over notes", "Chat over strategy"; 0 rows need a bare stop)
    r" with | w/ | at | in | from |" + _FOR_STOP + r"| lasting | via | using "
    r"| planned | arranged | (?:re)?scheduled | to |: "
    r"|, [a-z0-9]|,? \d|,\d| on (?=\d|the |today|tomorrow)"
    rf"| on {MONTH_WORD}(?=\.?,? ?\d)"
    r"| (?:on|via|over|using) (?=(?:Zoom|Google Meet|Microsoft Teams|Teams"
    r"|Skype|Webex|BlueJeans|Slack huddle|Slack|Meet|phone)\b)"
    r"|\.|$"
)
_MONTH_STOP = (
    rf"| {MONTH_WORD}\.?,? ?\d"
    r"| (?:today|tomorrow|day after"
    r"|next (?:week|monday|tuesday|wednesday|thursday|friday))\b"
)

# attendee phrase: after with / w/ / together with, up to a clause marker or
# a bare medium mention; joiners: ", and" ", " " and " " & " " + "
_ATT_STOP = (
    r"(?= on | at | in | from | for | lasting | via | over | using "
    r"| planned | arranged | hosted | scheduled | online\b| virtual\b"
    r"| (?:Zoom|Google Meet|Microsoft Teams|Microsoft|Teams|Skype|Webex|BlueJeans)\b"
    rf"| {MONTH_WORD}\.?,? ?\d"
    r"| ?– |, (?!and )[a-z]|,? ?\d|[.(]|$)"
)
# the month-date guard skips "w/ June 27th, Nov 2023" — that "June" is the
# date register, not the attendee June (gold: attendees null)
WITH_RE = rf"\b(?:together with|with|w/) (?!{MONTH_WORD}\.?,? ?\d)(.+?){_ATT_STOP}"
# bare name LIST: a comma-joined chain of ≥2 Capitalized names (a lone bare
# token could equally be a location, so singles need the name pool)
NAME_NM = rf"(?!{MONTH_WORD} \d)[A-Z][a-z]+"
BARE_RE = rf"({NAME_NM}(?:, {NAME_NM})+(?:,? and {NAME_NM})?)\b"

# location: at/in/by [the] X (gold drops the article, 100:8 in the corpus;
# a small per-noun train-split majority KEEPS it \u2014 THE_KEEP_NOUNS below).
# "in a/an \u2026" is never a location ("Pencil in a team retrospective"), and
# "in with" is the check-in phrasal verb, not a place.
_LOC_STOP = (
    r"(?= for | lasting | on | at | with | w/ | from | to |\.|, ?[a-z]|,?$"
    r"|,? ?\d+[:/]|,? ?\d{4}"
    r"|,? ?\d+ ?-?(?:[apAP]\.?[mM]|hours?|hrs?|hr|minutes?|mins?|min|h\b|m\b))"
)
PHYS_LOC_RE = (
    rf"(?<![\w-])(?:at|in|by) (?!\d|noon\b|time\b|a |an |for |with |w/ )"
    rf"((?:the )?[A-Za-z][A-Za-z0-9\u00c0-\u00ff'\u2019& ,-]*?){_LOC_STOP}"
)
# nouns whose train-split gold majority KEEPS the article ("the studio" \u00d72,
# arena, clinic, mall, park, large park \u2014 each keep>strip in train); every
# other "the X" drops it (multi-word strip majority 19:2)
THE_KEEP_NOUNS = ["studio", "arena", "clinic", "mall", "park", "large park"]

NOTE_RE = r"\. Note: (.+)\.(?: 🙂)?$"

_MED_STOP = (
    r"|(?<! on)(?<! via)(?<!over)(?<!sing) "
    r"(?:Zoom|Google Meet|Microsoft Teams|Microsoft|Teams|Skype|Webex|BlueJeans)\b"
    r"| [A-Z][a-z]+,"
)

# leading-medium rule (corpus majority 24:7): a medium mention BEFORE the
# first date/time token is part of the leading action phrase, not the
# location ("Sync on Teams March 15" → action "Sync on Teams", location
# null; "… 4:45 pm Teams" → location "Teams"). The boundary tokens are
# everything that can open a date/time: a digit, a relative-date keyword,
# noon/midnight.
_BOUND = (
    r"[0-9]|\btoday\b|\btomorrow\b|\bnoon\b|\bmidnight\b"
    r"|\bnext (?:week|monday|tuesday|wednesday|thursday|friday)\b"
)
_MED_BARE = "Microsoft Teams|Google Meet|Slack huddle|Zoom|Teams|Skype|Webex|BlueJeans"
LEAD_MED_RE = (
    rf"^(?:(?!{_BOUND}).)*?"
    rf"(?:\b(?:hosted on|on|via|over|using) (?:{_MED_BARE}|Slack|Meet|phone)"
    rf"|\b(?:{_MED_BARE}))\b"
)
# cheap literal pre-filter: the tempered per-char scan above only runs on
# rows that mention a medium at all (~25% of event rows)
_MED_HINT_RE = "Zoom|Meet|Teams|Skype|Webex|Slack|phone"


def lead_med_col(text: Column) -> Column:
    return text.rlike(_MED_HINT_RE) & text.rlike(LEAD_MED_RE)

# action stops with every medium-related alternative removed — used on
# leading-medium rows, where the action phrase runs THROUGH the medium up
# to the date ("Sync on Teams March 15" → "Sync on Teams")
_STOP_NOMED = (
    r" with | w/ | at | in | from |" + _FOR_STOP + r"| lasting "
    r"| planned | arranged | (?:re)?scheduled | to |: "
    r"|, [a-z0-9]|,? \d|,\d| on (?=\d|the |today|tomorrow)"
    rf"| on {MONTH_WORD}(?=\.?,? ?\d)"
    r"|\.|$"
)
ACTION_BODY = r"[A-Za-z0-9:][A-Za-z0-9:'\u2019 /-]*?"
ACTION_RE = (
    rf"^({ACTION_BODY})"
    rf"(?={_STOP}{_MONTH_STOP}{_MED_STOP})"
)


def _ne(c: Column) -> Column:
    return F.nullif(c, F.lit(""))


def action_col(text: Column, name_pool: list[str] | None = None) -> Column:
    # leading date/time tokens are stripped first (corpus: "12:30 pm
    # brainstorming …" → action "brainstorming")
    lead = (
        r"^(?:(?:\d{4}-\d{2}-\d{2}|\d{1,2}:[0-5]\d|\d{1,2}/[0-9/]+|\d{1,2}[apAP]\.?[mM],?|\d{1,2}(?:st|nd|rd|th)?,?"
        rf"|{MONTH_WORD}\.?,?(?=[\s ]+\d)|\d{{4}},?|[apAP]\.?[mM],?)[\s ]+)*"
    )
    stripped = F.regexp_replace(text, lead, "")
    pat = ACTION_RE
    pat_nomed = rf"^({ACTION_BODY})(?={_STOP_NOMED}{_MONTH_STOP})"
    if name_pool:
        alt = "|".join(sorted((_re.escape(n) for n in name_pool), key=len, reverse=True))
        pat = (
            rf"^({ACTION_BODY})"
            rf"(?={_STOP}{_MONTH_STOP}{_MED_STOP}| (?:{alt})\b)"
        )
        pat_nomed = (
            rf"^({ACTION_BODY})"
            rf"(?={_STOP_NOMED}{_MONTH_STOP}| (?:{alt})\b)"
        )
    # time-reservation scaffold: "<Add|Organize|Pencil in|Put in> [a] time
    # for/to X" golds as X alone (train 5:1 — only "Book time for" keeps the
    # scaffold), with the article right after for/to dropped
    scaffold = _ne(
        F.regexp_extract(
            stripped,
            rf"^(?:(?:Add|Organize|Pencil in|Put in) (?:a )?time (?:for|to)"
            rf"|Book (?:a )?time to|Book me in for|Put down) "
            rf"(?:(?:a|an|the) )?({ACTION_BODY})(?={_STOP}{_MONTH_STOP}{_MED_STOP})",
            1,
        )
    )
    raw = F.coalesce(
        scaffold,
        F.when(
            lead_med_col(text), _ne(F.regexp_extract(stripped, pat_nomed, 1))
        ).otherwise(_ne(F.regexp_extract(stripped, pat, 1))),
    )
    # gold expands "mtg" → "meeting" when DIRECTLY followed by "w/" (train
    # 4:0) or "for" (1:0 + eval), keeps it before a date (12:1) or a bare
    # name ("Team mtg Sarah …", 2:0 keep — the name-following branch of the
    # earlier rule was backwards)
    expand = text.rlike(r"\bmtg (?:w/|for )")
    return F.when(expand, F.regexp_replace(raw, r"\bmtg\b", "meeting")).otherwise(raw)


def attendees_col(text: Column, name_pool: list[str] | None = None) -> Column:
    """Ordered attendee list (text order preserved); null when absent,
    never an empty list (reference: attendees never [])."""
    phrase = F.coalesce(
        _ne(F.regexp_extract(text, WITH_RE, 1)),
        _ne(F.regexp_extract(text, BARE_RE, 1)),
        # "Meet X at …" / "Call X <date>" — the verb's object is the
        # attendee (corpus: 'Call Ben' → ['Ben']); capitalization keeps
        # ordinary nouns out, the month guard keeps dates out ("Call Feb
        # 15", "Google Meet March 7")
        _ne(
            F.regexp_extract(
                text,
                rf"(?:^|[\s ])(?:Meet|Call) (?!{MONTH_WORD}\b)([A-Z][a-z]+)\b",
                1,
            )
        ),
    )
    if name_pool:
        alt = "|".join(sorted((_re.escape(n) for n in name_pool), key=len, reverse=True))
        # single bare name after a time, after a leading verb, or right
        # before an ordinal date ("Pitch review Emma 14th, Dec 2023 …")
        bare_single = (
            rf"(?:[apAP]\.?[mM][\s ]+|^Meet |\bMeet )({alt})\b"
            rf"|\b({alt})(?= \d{{1,2}}(?:st|nd|rd|th)\b)"
        )
        single = F.coalesce(
            _ne(F.regexp_extract(text, bare_single, 1)),
            _ne(F.regexp_extract(text, bare_single, 2)),
        )
        phrase = F.coalesce(phrase, single)
    arr = F.split(F.regexp_replace(phrase, r"(, and |, | and | & | \+ )", "|"), r"\|")
    arr = F.transform(
        F.filter(arr, lambda x: F.trim(x) != ""), lambda x: F.trim(x)
    )
    return F.when(phrase.isNotNull() & (F.size(arr) > 0), arr)


def location_col(
    text: Column,
    location_pool: list[str] | None = None,
    name_pool: list[str] | None = None,
) -> Column:
    """Verbatim location substring: virtual-medium dictionary match
    ("on Zoom", "via Google Meet", "using …", "hosted on …") else physical
    "at/in [the] X" phrase (article dropped), else a bare dictionary
    location after a time mention."""
    med_alt = "|".join(DEFAULT_MEDIUMS)
    # "phone" is in the reference's medium list (faker_synth.py:21) but only
    # matches when preposition-introduced ("on phone") — as a bare word it
    # would over-claim ordinary mentions
    med_intro_alt = "|".join(DEFAULT_MEDIUMS + ["Slack", "Meet", "phone"])
    # a medium BEFORE the first date/time token belongs to the action
    # phrase, not the location (LEAD_MED_RE, corpus majority)
    not_lead = ~lead_med_col(text)
    med = F.when(
        not_lead,
        _ne(
            F.regexp_extract(
                text, rf"\b(?:hosted on|on|via|over|using) ({med_intro_alt})\b", 1
            )
        ),
    )
    phys_raw = _ne(F.regexp_extract(text, PHYS_LOC_RE, 1))
    phys = F.when(
        F.lower(phys_raw).isin([f"the {n}" for n in THE_KEEP_NOUNS]), phys_raw
    ).otherwise(F.regexp_replace(phys_raw, r"^the ", ""))
    bare_med = F.when(
        not_lead, _ne(F.regexp_extract(text, rf"\b({med_alt})\b", 1))
    )
    # bare multi-word Capitalized phrase right after a time mention
    # ("… 2pm Meeting Room B with …", "… 8am HQ Office with …"); leading
    # verbs and month names excluded. The am/pm anchor carries a
    # letter-lookbehind so a word ENDING in am/pm ("team") can never
    # anchor it.
    bare_multi = _ne(
        F.regexp_extract(
            text,
            r"(?:(?<![A-Za-z])[apAP]\.?[mM]|\d)[\s ]+(?!Meet |Call |Review |Discuss )"
            rf"(?!{MONTH_WORD} )(?![AP]M\b)"
            # optional trailing room NUMBER ("Office Room 101") is part of the
            # location; trailing guards block only date/time digits (9:30,
            # 16/11, 2024-…) so a following duration ("1hr") no longer kills
            # the match
            r"([A-Z][A-Za-z0-9\u00c0-\u017e-]*(?: [A-Z][A-Za-z0-9\u00c0-\u017e]*)+"
            r"(?: \d{1,3}(?![\w:/.-]))?)\b(?! ?\d+[:/-])(?! ?\d{4}\b)(?!,)",
            1,
        )
    )
    # bare virtual-venue words ("… 6:30 pm virtual")
    bare_virtual = _ne(
        F.regexp_extract(
            text,
            r"(?:(?<![A-Za-z])[apAP]\.?[mM]|\d)[\s ]+(virtual|online|video chat|video call)\b",
            1,
        )
    )
    # dangling venue word at text end ("… Alex, Megan, Leo online" — the
    # corpus golds a trailing online/virtual as the location, 11:0)
    bare_virtual = F.coalesce(
        bare_virtual,
        _ne(
            F.regexp_extract(
                text, r"[a-z] (virtual|online|video chat|video call)\.?$", 1
            )
        ),
    )
    out = F.coalesce(med, phys, bare_multi, bare_virtual, bare_med)
    if location_pool:
        alt = "|".join(
            sorted((_re.escape(x) for x in location_pool), key=len, reverse=True)
        )
        bare = _ne(
            F.regexp_extract(
                text, rf"(?:(?<![A-Za-z])[apAP]\.?[mM]|\d)[\s ]+({alt})\b", 1
            )
        )
        out = F.coalesce(out, bare)
    if name_pool:
        # lone Capitalized token after a time that is NOT a known attendee
        cand = _ne(
            F.regexp_extract(
                text,
                r"(?:(?<![A-Za-z])[apAP]\.?[mM]|\d)[\s  ]+(?!Meet\b|Call\b)"
                rf"(?!{MONTH_WORD}\b)(?![AP]M\b)"
                r"([A-Z][\w'’\u00c0-\u017e]+)\b(?![,.])",
                1,
            )
        )
        guarded = F.when(~cand.isin(name_pool), cand)
        out = F.coalesce(out, guarded)
    return out


def recurrence_col(text: Column) -> Column:
    kw = _ne(F.regexp_extract(text, REC_RE, 1))
    # sentence-initial "Weekly" lowercases in gold (corpus majority); other
    # keywords keep their casing
    initial = F.regexp_extract(text, rf"^({REC_ALT})\b", 1) == kw
    return F.when(initial & (kw == "Weekly"), F.lower(kw)).otherwise(kw)


def notes_col(text: Column) -> Column:
    explicit = _ne(F.regexp_extract(text, NOTE_RE, 1))
    # "Meet X at Y for <activity>, <duration>" → notes = activity (corpus)
    activity = _ne(
        F.regexp_extract(
            text,
            r"\bMeet [A-Z][a-z]+ at [^,]+ (?:for |to )((?:to )?[a-z][^,.]*?)(?=, ?\d|\.$)",
            1,
        )
    )
    return F.coalesce(explicit, activity)


def build_lexicons(corpus_texts: DataFrame, text_col: str = "text", top_k: int = 500):
    """Mine (name_pool, location_pool) from explicitly-introduced mentions
    in a training corpus — the reference's entity-pool build (A1) used as
    extraction dictionaries (J2). Returns two python lists for broadcast."""
    t = F.col(text_col)
    with_phrase = _ne(F.regexp_extract(t, WITH_RE, 1))
    names = (
        corpus_texts.select(
            F.explode(
                F.split(
                    F.regexp_replace(with_phrase, r"(, and |, | and | & | \+ )", "|"),
                    r"\|",
                )
            ).alias("name")
        )
        .filter(F.col("name").rlike(r"^[A-Z][a-z]+$"))
        .groupBy("name")
        .count()
        .orderBy(F.desc("count"), F.asc("name"))
        .limit(top_k)
    )
    med_alt = "|".join(DEFAULT_MEDIUMS)
    mined_phys = _ne(F.regexp_extract(t, PHYS_LOC_RE, 1))
    locs = (
        corpus_texts.select(
            F.coalesce(
                _ne(F.regexp_extract(t, rf"\b(?:hosted on|on|via|over|using) ({med_alt})\b", 1)),
                # same article policy as location_col: strip "the " except
                # for the train-majority keep nouns
                F.when(
                    F.lower(mined_phys).isin(
                        [f"the {n}" for n in THE_KEEP_NOUNS]
                    ),
                    mined_phys,
                ).otherwise(F.regexp_replace(mined_phys, r"^the ", "")),
            ).alias("loc")
        )
        .filter(F.col("loc").isNotNull())
        .groupBy("loc")
        .count()
        .orderBy(F.desc("count"), F.asc("loc"))
        .limit(top_k)
    )
    name_pool = [r["name"] for r in names.collect()]
    loc_pool = [r["loc"] for r in locs.collect()]
    return name_pool, loc_pool


def extract_events(
    transcripts: DataFrame,
    name_pool: list[str] | None = None,
    location_pool: list[str] | None = None,
) -> DataFrame:
    """transcripts → one row per detected calendar request with the 8 fields.

    Narrow map-only stage: filter + ONE projection, no shuffle. Keeps
    (conv_id, turn_idx, text, ts) so downstream canonicalization and the
    per-turn text-equality invariant hold. The fields are projected in a
    single ``select``, which is analysed once instead of once per added
    column.

    Detection runs as ONE cheap rlike alternation per column (DATE_ANY_RE /
    TIME_ANY_RE, provably equivalent to "normalization non-null") placed in
    the Filter BELOW the normalization Project — filtering on the computed
    columns instead would make Catalyst inline the whole normalization
    cascade into the filter condition and evaluate it twice per row.
    """
    text = F.col("text")
    return transcripts.filter(
        (F.col("role") == "user")
        & text.rlike(DATE_ANY_RE)
        & text.rlike(TIME_ANY_RE)
    ).select(
        F.xxhash64(F.col("conv_id"), F.col("turn_idx")).alias("event_id"),
        "conv_id", "turn_idx", "text", "ts",
        action_col(text, name_pool).alias("action"),
        date_norm_col(text).alias("date"),
        time_norm_col(text).alias("time"),
        attendees_col(text, name_pool).alias("attendees"),
        location_col(text, location_pool, name_pool).alias("location"),
        duration_norm_col(text).alias("duration"),
        recurrence_col(text).alias("recurrence"),
        notes_col(text).alias("notes"),
    )
