"""Date / time / duration normalization as pure Column expressions.

The rules are the reference's EMPIRICAL annotation function, measured over
its 792 raw rows (``data/raw/event_text_mapping.jsonl``; see SURVEY.md §1.2
and scripts/eval_reference_corpus.py for the measurement loop):

* dates → ``DD/MM/YYYY`` dayfirst, EXCEPT ISO ``YYYY-MM-DD`` verbatim;
  surface forms include ``15/10/2023``, ``2024-01-15``, ``March 5, 2024``,
  ``Aug 9, 2024``, ``15th, Dec 2024``, ``28th Jan, 2024``,
  ``20 - Oct - 2023``, relative keywords;
* times with explicit am/pm → hour VERBATIM (leading zero kept), ``:MM``
  (``:00`` if absent), upper ``AM/PM``; separators include U+202F;
  24-h times: hour ≥ 13 verbatim, ≤ 11 + " AM", = 12 + " PM";
* durations copied verbatim, with the corpus-majority light transforms:
  ``Nmins→N mins``, ``Nmin→N minutes``, ``N-hour→N hours``,
  ``N-minute→N minutes``, ``an/one hour→1 hour``, ``half an hour→30
  minutes``, fuzzy lead-ins (about/around/roughly/a solid) stripped.

Everything is JVM-side (regexp + string builtins) so it stays inside
whole-stage codegen — no Python UDFs in the hot path.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F

MONTHS_FULL = [
    "January", "February", "March", "April", "May", "June",
    "July", "August", "September", "October", "November", "December",
]
MONTHS_3 = [m[:3] for m in MONTHS_FULL]
# exact month words (full names first, then abbrevs incl. "Sept") — partial
# prefix matches like "Mar(y)" or "Mar(keting)" must never count as months
MONTH_WORD = "(?:" + "|".join(MONTHS_FULL + ["Sept"] + MONTHS_3) + ")"

_D = r"(3[01]|[12]\d|0?[1-9])"  # day 1-31 (validated: unparseable ⇒ null)
_M = r"(1[0-2]|0?[1-9])"  # month 1-12

# date surface forms measured over the full raw corpus
ISO_RE = r"\b(\d{4}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12]\d|3[01]))\b"
SLASH_RE = rf"\b{_D}/{_M}/(\d{{4}})\b"
# "March 5, 2024" / "Aug 9, 2024" / "Sept. 3 2024"
MDY_RE = rf"\b({MONTH_WORD})\.? {_D},? (\d{{4}})"
# "15th, Dec 2024" / "28th Jan, 2024" / "10 May 2024"
DMON_RE = rf"\b{_D}(?:st|nd|rd|th)?,? ({MONTH_WORD})\.?,? ?(\d{{4}})"
# "20 - Oct - 2023" (spaced dashes with month name)
SPACED_RE = rf"\b{_D} ?- ?({MONTH_WORD}) ?- ?(\d{{4}})\b"
DASH_RE = rf"\b{_D}-{_M}-(\d{{4}})\b"
# year-less "10th May" (enhanced generator style 3) — the lookahead blocks a
# trailing 4-digit YEAR (yearful patterns own those) but admits a following
# time like "4pm" / "14:30"
DMON_NOYEAR_RE = rf"\b{_D}(?:st|nd|rd|th)? ({MONTH_WORD})\b(?!\.?,? ?\d{{4}}\b)"

# time surface forms; U+202F narrow no-break space appears in the raw data
_SEP = "[\\s ]*"
T_AMPM_RE = rf"\b(\d{{1,2}})(?::([0-5]\d))?{_SEP}([apAP])\.?[mM]\b"
T_24_RE = rf"\b(?:[01]?\d|2[0-3]):[0-5]\d\b(?!{_SEP}[apAP]\.?[mM])"

# lowercase-only (no (?i)): "w/ HR 30min" must not match unit "hr" on "HR".
# The unit must carry a descriptor and/or a quantity — a BARE "hour" is
# never a duration mention ("Plan social hour …" golds the trailing "2hrs",
# not the action's "hour"), so the neither-branch is excluded.
_DUR_QTY = r"(?:a few |a couple (?:of )?|an? |one[- ]|half an? |a full |\d+(?:\.\d+)? ?|\d+)"
DUR_RE = (
    r"\b((?:(?:about |around |roughly |a solid |~ ?)"
    rf"{_DUR_QTY}?|{_DUR_QTY})-?"
    r"(?:hours?|hrs?|hr|minutes?|mins?|min|h|m)\b(?: and a half)?)"
)

# relative-date phrases (G3/G11) resolved against a pinned reference "now" —
# the reference resolves against datetime.now() (faker_synth.py:100-123,
# create_enhanced_training_data.py:179-210); an engine must pin the
# reference instant instead. DEFAULT_REF_HOUR pins the time-of-day so
# "in N hours" resolves to a date deterministically.
DEFAULT_REF_TODAY = "2025-06-15"
DEFAULT_REF_HOUR = 9
_WEEKDAYS = ["monday", "tuesday", "wednesday", "thursday", "friday"]
REL_RE = (
    r"\b(day after tomorrow|tomorrow|today|next week|next "
    + "|next ".join(_WEEKDAYS)
    + r")\b"
)
IN_HOURS_RE = r"\bin (\d{1,2}) hours\b"


def _rel_offset_map(ref_today: str) -> dict[str, int]:
    """Phrase → day offset, computed from the reference date's weekday
    (faker_synth.py:117-122: next-<weekday> = (target − today) % 7, 0 ⇒ 7)."""
    d = _dt.date.fromisoformat(ref_today)
    m = {"today": 0, "tomorrow": 1, "day after tomorrow": 2, "next week": 7}
    for i, wd in enumerate(_WEEKDAYS):
        m[f"next {wd}"] = (i - d.weekday()) % 7 or 7
    return m


def _ne(c: Column) -> Column:
    """Spark regexp_extract yields '' on no-match; convert to null."""
    return F.nullif(c, F.lit(""))


def _dmy(d: Column, m: Column, y: Column) -> Column:
    # nulls propagate through concat, so an unmatched style yields null
    return F.concat(F.lpad(d, 2, "0"), F.lit("/"), F.lpad(m, 2, "0"), F.lit("/"), y)


def _month_num(mon3: Column) -> Column:
    return F.array_position(F.array(*[F.lit(m) for m in MONTHS_3]), mon3).cast("string")


def _split_dmy(match: Column, sep: str) -> Column:
    """One regex pass (group 0) + cheap split beats three regexp_extract
    group calls — each group call re-runs the whole pattern."""
    p = F.split(match, sep)
    return _dmy(F.element_at(p, 1), F.element_at(p, 2), F.element_at(p, 3))


def _g(text: Column, pat: str, i: int) -> Column:
    return _ne(F.regexp_extract(text, pat, i))


def _match_then_group(text: Column, pat: str, groups: list[int]) -> list[Column]:
    """ONE full-text scan (group 0), then per-group re-extraction on the
    short matched substring — regex cost scales with input length, so the
    group passes are near-free vs re-scanning the whole turn per group.
    Null match propagates to null groups."""
    m = _ne(F.regexp_extract(text, pat, 0))
    return [_ne(F.regexp_extract(m, pat, i)) for i in groups]


def date_norm_col(text: Column) -> Column:
    """First date mention → normalized gold form (null if none); relative
    phrases resolve against ``DEFAULT_REF_TODAY`` / ``DEFAULT_REF_HOUR``.

    The style cascade is gated behind one cheap guard regex: rows with no
    digit / relative keyword (most transcript turns) skip all styles.
    Lazy coalesce short-circuits matched rows.
    """
    iso_raw = _g(text, ISO_RE, 1)
    iso_parts = F.split(iso_raw, "-")
    iso_conv = _dmy(
        F.element_at(iso_parts, 3), F.element_at(iso_parts, 2), F.element_at(iso_parts, 1)
    )
    # corpus rule: a text-leading ISO date converts to DD/MM/YYYY (37:2);
    # mid-text ISO stays verbatim (89:29)
    iso = F.when(text.rlike(r"^\d{4}-\d{2}-\d{2}\b"), iso_conv).otherwise(iso_raw)
    slash = _split_dmy(_ne(F.regexp_extract(text, SLASH_RE, 0)), "/")
    mdy_mon, mdy_d, mdy_y = _match_then_group(text, MDY_RE, [1, 2, 3])
    mdy = _dmy(mdy_d, _month_num(F.substring(mdy_mon, 1, 3)), mdy_y)
    dm_d, dm_mon, dm_y = _match_then_group(text, DMON_RE, [1, 2, 3])
    dmon = _dmy(dm_d, _month_num(F.substring(dm_mon, 1, 3)), dm_y)
    sp_d, sp_mon, sp_y = _match_then_group(text, SPACED_RE, [1, 2, 3])
    spaced = _dmy(sp_d, _month_num(F.substring(sp_mon, 1, 3)), sp_y)
    # dayfirst: "5-4-2024" → 05/04/2024
    dash = _split_dmy(_ne(F.regexp_extract(text, DASH_RE, 0)), "-")
    # year-less "10th May" → NEXT occurrence of (day, month) from the
    # reference date
    ref = _dt.date.fromisoformat(DEFAULT_REF_TODAY)
    ny_dg, ny_mon = _match_then_group(text, DMON_NOYEAR_RE, [1, 2])
    ny_d = ny_dg.cast("int")
    ny_m = _month_num(F.substring(ny_mon, 1, 3)).cast("int")
    ny_y = F.when(
        (ny_m > ref.month) | ((ny_m == ref.month) & (ny_d >= ref.day)),
        F.lit(ref.year),
    ).otherwise(F.lit(ref.year + 1))
    noyear = _dmy(
        ny_d.cast("string"), ny_m.cast("string"), ny_y.cast("string")
    )
    rel_phrase = _ne(F.regexp_extract(text, REL_RE, 1))
    phrase_off = F.coalesce(
        *[
            F.when(rel_phrase == p, F.lit(off))
            for p, off in _rel_offset_map(DEFAULT_REF_TODAY).items()
        ]
    )
    # "in N hours": day offset = (ref hour + N) // 24 (rolls past midnight)
    in_h = _ne(F.regexp_extract(text, IN_HOURS_RE, 1)).cast("int")
    in_h_off = F.floor((in_h + F.lit(DEFAULT_REF_HOUR)) / F.lit(24)).cast("int")
    rel_off = F.coalesce(phrase_off, in_h_off)
    rel_date = F.date_add(F.lit(DEFAULT_REF_TODAY).cast("date"), rel_off)
    rel = F.when(rel_off.isNotNull(), F.date_format(rel_date, "dd/MM/yyyy"))
    return F.when(
        text.rlike(r"[0-9]|today|tomorrow|next "),
        F.coalesce(iso, slash, spaced, mdy, dmon, dash, noyear, rel),
    )


def time_norm_col(text: Column) -> Column:
    """First time mention → normalized gold form (null if none)."""
    # explicit am/pm: hour verbatim (leading zero preserved, per corpus);
    # one full-text scan, groups parsed from the short match
    ampm_m = _ne(F.regexp_extract(text, T_AMPM_RE, 0))
    h = _ne(F.regexp_extract(ampm_m, T_AMPM_RE, 1))
    mm = F.coalesce(_ne(F.regexp_extract(ampm_m, T_AMPM_RE, 2)), F.lit("00"))
    ap = F.upper(F.concat(F.regexp_extract(ampm_m, T_AMPM_RE, 3), F.lit("m")))
    t_ampm = F.concat(h, F.lit(":"), mm, F.lit(" "), ap)

    # 24-h with no am/pm: >=13 verbatim; <=11 + " AM"; ==12 + " PM"
    m24 = _ne(F.regexp_extract(text, T_24_RE, 0))
    h24 = F.split(m24, ":").getItem(0).cast("int")
    t_24 = F.when(h24 >= 13, m24).when(h24 == 12, F.concat(m24, F.lit(" PM"))).otherwise(
        F.concat(m24, F.lit(" AM"))
    )

    # fuzzy "9ish" (faker_synth.py:95-96): reference hours are 7..20, so the
    # 12-h digit determines the meridiem — 7..11 ⇒ AM, 12 and 1..8 ⇒ PM
    ish_h = _ne(F.regexp_extract(text, ISH_RE, 1))
    ish_ap = F.when(ish_h.cast("int").between(7, 11), F.lit("AM")).otherwise(
        F.lit("PM")
    )
    t_ish = F.concat(ish_h, F.lit(":00 "), ish_ap)

    noon = F.when(text.rlike(r"\bnoon\b"), F.lit("12:00 PM"))
    midnight = F.when(text.rlike(r"\bmidnight\b"), F.lit("12:00 AM"))
    return F.when(
        text.rlike(r"[0-9]|noon|midnight"),
        F.coalesce(t_ampm, t_24, t_ish, noon, midnight),
    )


# fuzzy "9ish" hour (faker_synth.py:95-96)
ISH_RE = r"\b(\d{1,2})ish\b"

# G4: time range (faker_synth.py:311-316 — "from X to Y", "X–Y" en-dash,
# "between X and Y") — when no explicit duration, it derives as end − start
RANGE_RE = (
    r"\b(?:from |between )?(\d{1,2}):([0-5]\d) ?([apAP][mM])"
    r"(?: to | and |–)"
    r"(\d{1,2}):([0-5]\d) ?([apAP][mM])\b"
)


def _minutes_of_day(h: Column, m: Column, ap: Column) -> Column:
    h12 = h.cast("int") % 12
    add = F.when(F.lower(ap) == "pm", F.lit(12)).otherwise(F.lit(0))
    return (h12 + add) * 60 + m.cast("int")


def range_duration_col(text: Column) -> Column:
    """Derived duration from a time range (reference G4, faker_synth.py:
    311-321, all three variants): (end − start) mod 24h, 'N minutes'.
    One full-text scan; the six groups parse from the short match."""
    m = _ne(F.regexp_extract(text, RANGE_RE, 0))

    def g(i: int) -> Column:
        return _ne(F.regexp_extract(m, RANGE_RE, i))

    start = _minutes_of_day(g(1), g(2), g(3))
    end = _minutes_of_day(g(4), g(5), g(6))
    delta = F.pmod(end - start, F.lit(1440))
    return F.when(
        m.isNotNull(), F.concat(delta.cast("string"), F.lit(" minutes"))
    )


# detection-only alternations: ONE rlike scan decides whether a turn carries
# a date / time mention, so the request filter never inlines the full
# normalization cascade (Catalyst collapses Project into Filter, which would
# otherwise evaluate every style's extract+concat twice per surviving row).
# Membership is EXACTLY "the corresponding *_norm_col is non-null": each
# style's normalization succeeds whenever its pattern matches.
DATE_ANY_RE = "|".join(
    f"(?:{p})"
    for p in [
        ISO_RE, SLASH_RE, MDY_RE, DMON_RE, SPACED_RE, DASH_RE,
        DMON_NOYEAR_RE, REL_RE, IN_HOURS_RE,
    ]
)
TIME_ANY_RE = "|".join(
    f"(?:{p})"
    for p in [T_AMPM_RE, T_24_RE, ISH_RE, r"\bnoon\b", r"\bmidnight\b"]
)


# corpus-majority duration transforms, applied in order
_DUR_TRANSFORMS = [
    (r"(?i)^(?:about|around|roughly|a solid|~) ?", ""),
    (r"(?i)^half an? hour$", "30 minutes"),
    (r"(?i)^(?:an?|one) hour and a half$", "1 hour 30 minutes"),
    (r"(?i)^a couple (?:of )?hours$", "2 hours"),
    (r"(?i)^(?:an?|one|a full)[- ]hour$", "1 hour"),
    # NOT dead despite DUR_RE's quantity requirement: the descriptor-only
    # branch matches "about hour"/"~hour" (descriptor present, quantity
    # absent), and the first transform strips the descriptor to bare "hour"
    (r"(?i)^hour$", "1 hour"),
    (r"(\d)mins\b", "$1 mins"),
    (r"(\d)-hour\b", "$1 hours"),
    (r"(\d)-minute\b", "$1 minutes"),
]

# "N min"/"Nmin" expands to "N minutes" EXCEPT in the corpus's compact
# ordinal-date register ("Sync w/ Daniel 11th, Oct 2023 08:45 HQ 30min"),
# where the annotation keeps it verbatim (measured 13:0 verbatim in that
# cluster vs 21:5 expanded elsewhere)
_ORDINAL_STYLE_RE = r"\d{1,2}(?:st|nd|rd|th), [A-Z][a-z]{2,8} \d{4}"

# "Mon D, YYYY" telegraph register ("Finalize quote Feb 18, 2024 9am 1hr"):
# compact "1hr" expands to "1 hour" there (train 8:2 — every other register
# keeps it verbatim; restricted to exactly 1hr, the only observed form)
_MONNAME_STYLE_RE = r"[A-Z][a-z]{2,8} \d{1,2}, \d{4}"


def duration_norm_col(text: Column) -> Column:
    """Duration phrase (with or without a for/lasting intro), corpus
    transforms applied; falls back to the range-derived duration.

    The relative-date phrase "in N hours" (a DATE mention) is masked first —
    otherwise DUR_RE would claim its "N hours" span as a duration. The
    rebuild is gated on a cheap rlike so the common row pays one scan, not
    a scan + string copy."""
    masked = F.when(
        text.rlike(IN_HOURS_RE), F.regexp_replace(text, IN_HOURS_RE, " ")
    ).otherwise(text)
    raw = _ne(F.regexp_extract(masked, DUR_RE, 1))
    out = raw
    for pat, repl in _DUR_TRANSFORMS:
        out = F.regexp_replace(out, pat, repl)
    out = F.when(
        text.rlike(_ORDINAL_STYLE_RE),
        out,
    ).otherwise(F.regexp_replace(out, r"(\d) ?min\b", "$1 minutes"))
    out = F.when(
        text.rlike(_MONNAME_STYLE_RE) & (out == F.lit("1hr")), F.lit("1 hour")
    ).otherwise(out)
    return F.coalesce(out, range_duration_col(text))
