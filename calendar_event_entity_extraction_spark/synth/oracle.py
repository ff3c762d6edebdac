"""DuckDB-SQL renderer of the gold event fields.

Mirrors :mod:`.grammar`'s modular-arithmetic formulas in plain ANSI-ish SQL
(DuckDB dialect) over the driver's pre-registered ``orders`` view: for each
grammar key it emits the *gold* 8 fields directly — no text involved. The
Spark side of each correctness query instead renders the transcript text and
runs the real extractor; the two agree iff the extractor inverts the grammar
exactly. ``tests/test_synth_oracle.py`` pins this SQL to the Python spec.

Conversations are multi-event: the ``keys`` CTE unions the primary event key
(``o_orderkey``) with the derived second-event key for the ~1/9 of
conversations that carry a second request (grammar ``has_second_event`` /
``second_key``). ``k0`` is the conversation's primary key (drives the
perturbation flag in the eval-metrics oracle); ``k`` is the event's own
grammar key (drives every field formula).
"""

from __future__ import annotations

from ..schemas import TARGET_KEYS
from .grammar import (
    ACTIONS,
    DUR_PAIRS,
    LOC_PHYS,
    MEDIUMS,
    NAMES,
    NOTES,
    REC_KWS,
    REF_TODAY,
    REL_OFFSETS,
)


def _lst(items) -> str:
    return "[" + ", ".join("'" + i.replace("'", "''") + "'" for i in items) + "]"


def _name(i: int) -> str:
    return f"({_lst(NAMES)})[1 + CAST((k*13 + {i}*7) % 20 AS INT)]"


# v5 gold semantics: location drops the article; sentence-initial "Weekly"
# lowercases in the recurrence field
LOC_GOLD = [x[4:] if x.startswith("the ") else x for x in LOC_PHYS]
REC_GOLD = ["weekly" if x == "Weekly" else x for x in REC_KWS]


# second-event key: action index forced to differ (grammar.second_key)
_NA = len(ACTIONS)
_K2 = (
    f"CASE WHEN (((k0*131+17)//6) % {_NA}) = ((k0//6) % {_NA}) "
    "THEN k0*131+23 ELSE k0*131+17 END"
)

KEYS_CTE = f"""
base AS (
  SELECT o_orderkey AS k0,
         CAST(o_orderkey % (2 + (o_orderkey % 5)) AS INTEGER) AS req0,
         2 + (o_orderkey % 5) AS nt0
  FROM orders
), keys AS (
  SELECT k0, k0 AS k, 'conv-' || CAST(k0 AS VARCHAR) AS conv_id, req0 AS turn_idx
  FROM base
  UNION ALL
  SELECT k0, {_K2} AS k, 'conv-' || CAST(k0 AS VARCHAR) AS conv_id,
         req0 + 1 AS turn_idx
  FROM base
  WHERE k0 % 9 = 5 AND k0 % 50 != 0 AND req0 + 1 < nt0
)
"""

GOLD_CTE = f"""
WITH {KEYS_CTE}, f AS (
  SELECT k0, k, conv_id, turn_idx,
         DATE '2024-01-01' + CAST((k*37) % 730 AS INT) AS d0
  FROM keys
), g AS (
  SELECT k0, k, conv_id, turn_idx,
         day(d0) AS d, month(d0) AS m, year(d0) AS y,
         day(rd) AS rel_d, month(rd) AS rel_m, year(rd) AS rel_y,
         k % 8 AS s_date, k % 8 AS s_time,
         CASE WHEN (k*31) % 1000 < 247 THEN 0 ELSE 1 + (k//4) % 3 END AS n_att,
         CASE WHEN k % 8 = 4 THEN 12
              WHEN k % 8 = 6 THEN 9 + ((k//8) % 10)
              ELSE (k*7+3) % 24 END AS h24,
         CASE WHEN k % 8 IN (1,4,6) THEN 0 ELSE 15*((k*5)%4) END AS mm
  FROM (SELECT *, DATE '2025-06-15' +
          CAST(({REL_OFFSETS})[1 + CAST((k//3) % {len(REL_OFFSETS)} AS INT)] AS INT) AS rd
        FROM f)
), gold AS (
  SELECT
    k,
    n_att AS n_att_raw,
    conv_id,
    turn_idx,
    (CASE WHEN (k*23) % 1000 < 33
          THEN ({_lst(REC_KWS)})[1 + CAST((k//25) % 8 AS INT)] || ' ' ELSE '' END)
      || (CASE WHEN k % 10 = 4
               THEN replace(({_lst(ACTIONS)})[1 + CAST((k//6) % {_NA} AS INT)], 'meeting', 'mtg')
               ELSE ({_lst(ACTIONS)})[1 + CAST((k//6) % {_NA} AS INT)] END) AS action,
    CASE WHEN s_date = 1
      THEN CAST(y AS VARCHAR) || '-' || lpad(CAST(m AS VARCHAR),2,'0') || '-' || lpad(CAST(d AS VARCHAR),2,'0')
      WHEN s_date = 6
      THEN lpad(CAST(rel_d AS VARCHAR),2,'0') || '/' || lpad(CAST(rel_m AS VARCHAR),2,'0') || '/' || CAST(rel_y AS VARCHAR)
      WHEN s_date = 7
      THEN lpad(CAST(d AS VARCHAR),2,'0') || '/' || lpad(CAST(m AS VARCHAR),2,'0') || '/' ||
           CAST(CASE WHEN m > {REF_TODAY.month} OR (m = {REF_TODAY.month} AND d >= {REF_TODAY.day})
                     THEN {REF_TODAY.year} ELSE {REF_TODAY.year + 1} END AS VARCHAR)
      ELSE lpad(CAST(d AS VARCHAR),2,'0') || '/' || lpad(CAST(m AS VARCHAR),2,'0') || '/' || CAST(y AS VARCHAR)
    END AS date,
    CASE WHEN s_time = 3
      THEN lpad(CAST(h24 AS VARCHAR),2,'0') || ':' || lpad(CAST(mm AS VARCHAR),2,'0')
           || (CASE WHEN h24 >= 13 THEN '' WHEN h24 = 12 THEN ' PM' ELSE ' AM' END)
      ELSE CAST(((h24+11) % 12) + 1 AS VARCHAR) || ':' || lpad(CAST(mm AS VARCHAR),2,'0')
           || ' ' || (CASE WHEN h24 < 12 THEN 'AM' ELSE 'PM' END)
    END AS time,
    CASE WHEN n_att = 0 THEN NULL
      ELSE {_name(0)}
           || (CASE WHEN n_att >= 2 THEN '|' || {_name(1)} ELSE '' END)
           || (CASE WHEN n_att >= 3 THEN '|' || {_name(2)} ELSE '' END)
    END AS attendees,
    CASE WHEN (k*17) % 1000 < 345 THEN NULL
         WHEN (k//5) % 2 = 0 THEN ({_lst(MEDIUMS)})[1 + CAST((k//10) % 6 AS INT)]
         ELSE ({_lst(LOC_GOLD)})[1 + CAST((k//10) % 8 AS INT)]
    END AS location,
    CASE WHEN (k*13) % 1000 >= 215
           THEN ({_lst([g for _, g in DUR_PAIRS])})[1 + CAST((k//13) % 8 AS INT)]
         WHEN k % 8 = 5
           THEN CAST(30*((k//29) % 4 + 1) AS VARCHAR) || ' minutes'
         ELSE NULL
    END AS duration,
    CASE WHEN (k*23) % 1000 < 33 THEN ({_lst(REC_GOLD)})[1 + CAST((k//25) % 8 AS INT)] ELSE NULL END AS recurrence,
    CASE WHEN (k*29) % 1000 < 18 THEN ({_lst(NOTES)})[1 + CAST((k//40) % 4 AS INT)] ELSE NULL END AS notes
  FROM g
)
"""


def gold_events_sql(fields: list[str] | None = None) -> str:
    """Oracle SQL for the canonical extracted-events table."""
    cols = ", ".join(["conv_id", "turn_idx"] + (fields or TARGET_KEYS))
    return f"{GOLD_CTE} SELECT {cols} FROM gold"


def gold_triples_sql() -> str:
    """Oracle SQL for the (pred, obj, obj_idx) triple view of the gold."""
    scalar = " UNION ALL ".join(
        f"SELECT conv_id, turn_idx, '{p}' AS pred, {p} AS obj, 0 AS obj_idx "
        f"FROM gold WHERE {p} IS NOT NULL"
        for p in ["action", "date", "time", "location", "duration", "recurrence", "notes"]
    )
    att = " UNION ALL ".join(
        f"SELECT conv_id, turn_idx, 'attendee' AS pred, {_name(i)} AS obj, "
        f"{i} AS obj_idx FROM gold WHERE n_att_raw >= {i + 1}"
        for i in range(3)
    )
    return f"{GOLD_CTE} {scalar} UNION ALL {att}"


def gold_location_pool_sql() -> str:
    """Oracle for the salted location-pool aggregation."""
    return (
        f"{GOLD_CTE} SELECT location AS name, count(*) AS cnt "
        "FROM gold WHERE location IS NOT NULL GROUP BY location"
    )


def gold_entity_pool_sql() -> str:
    """Oracle for the attendee entity-pool aggregation (A1/O1): frequency
    per name over all gold events."""
    parts = " UNION ALL ".join(
        f"SELECT {_name(i)} AS name FROM gold WHERE n_att_raw >= {i + 1}"
        for i in range(3)
    )
    return (
        f"{GOLD_CTE}, names AS ({parts}) "
        "SELECT name, CAST(count(*) AS BIGINT) AS cnt FROM names GROUP BY name"
    )


def gold_dataset_analysis_sql() -> str:
    """Oracle for A2 analyze_dataset: per-field non-null counts over all
    gold events (both branches of the keys CTE)."""
    return f"""
WITH {KEYS_CTE}
SELECT count(*) AS n_rows,
       count(*) AS action_nonnull,
       count(*) AS date_nonnull,
       count(*) AS time_nonnull,
       CAST(sum(CASE WHEN (k*31) % 1000 >= 247 THEN 1 ELSE 0 END) AS BIGINT) AS attendees_nonnull,
       CAST(sum(CASE WHEN (k*17) % 1000 >= 345 THEN 1 ELSE 0 END) AS BIGINT) AS location_nonnull,
       CAST(sum(CASE WHEN (k*13) % 1000 >= 215 OR k % 8 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS duration_nonnull,
       CAST(sum(CASE WHEN (k*23) % 1000 < 33 THEN 1 ELSE 0 END) AS BIGINT) AS recurrence_nonnull,
       CAST(sum(CASE WHEN (k*29) % 1000 < 18 THEN 1 ELSE 0 END) AS BIGINT) AS notes_nonnull
FROM keys
"""


def gold_augment_sql(att_pool: list[str], loc_pool: list[str]) -> str:
    """Oracle for the J1 entity-swap pipeline: swapped attendees/location
    depend only on (k0, turn_idx, n_att, location-nonnull) — the pool index
    is keyed arithmetic both engines compute identically. ``att_in_text``
    / ``loc_in_text`` are the text-rewrite consistency probes: every swapped
    mention must appear verbatim in the rewritten text."""
    p, lp = len(att_pool), len(loc_pool)

    def swapped(i: int) -> str:
        return (
            f"({_lst(att_pool)})"
            f"[1 + CAST((k0*7 + turn_idx*31 + {i}*11) % {p} AS INT)]"
        )

    return f"""{GOLD_CTE}
SELECT conv_id, turn_idx,
  CASE WHEN n_att_raw = 0 THEN NULL
       ELSE {swapped(0)}
            || (CASE WHEN n_att_raw >= 2 THEN '|' || {swapped(1)} ELSE '' END)
            || (CASE WHEN n_att_raw >= 3 THEN '|' || {swapped(2)} ELSE '' END)
  END AS attendees,
  CASE WHEN (k*17) % 1000 < 345 THEN NULL
       ELSE ({_lst(loc_pool)})[1 + CAST((k0*13 + turn_idx*31 + 5) % {lp} AS INT)]
  END AS location,
  CAST(n_att_raw AS BIGINT) AS att_in_text,
  CAST(CASE WHEN (k*17) % 1000 < 345 THEN 0 ELSE 1 END AS BIGINT) AS loc_in_text
FROM (SELECT *, CAST(substr(conv_id, 6) AS BIGINT) AS k0 FROM gold)
"""


def gold_eval_metrics_canonical_sql() -> str:
    """Oracle for the canonical-metric query (reference src/metrics.py:9-40
    semantics): canonicalization must FORGIVE the uppercase-action (k0%10==7)
    and whitespace-padded-time (k0%10==1) perturbations entirely, while the
    location clobber (k0%10==3) stays a mismatch — so every count is an
    exact integer function of the key distribution. json_valid = prediction
    present = every row here (keyed equi-population)."""
    return f"""
WITH {KEYS_CTE}, m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN k0 % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS perturbed
  FROM keys
)
SELECT n AS n_events,
       n AS json_valid_num,
       n - perturbed AS exact_match_canon_num,
       8*n - perturbed AS field_match_canon_num,
       8*n AS field_total,
       n - perturbed AS location_match_canon_num,
       n AS action_match_canon_num,
       n AS time_match_canon_num
FROM m
"""


def gold_eval_metrics_sql() -> str:
    """Oracle for the perturbed-prediction metrics query: the Spark side
    clobbers pred.location on conversations with k0%10==3 (both events of
    such conversations), so every metric is an exact integer function of the
    key distribution. All outputs are BIGINT numerator/denominator pairs —
    never floats — so the hash compare is bit-stable across engines."""
    return f"""
WITH {KEYS_CTE}, m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN k0 % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS perturbed,
         CAST(sum(CASE WHEN k0 % 10 != 3 AND (k*17) % 1000 >= 345 THEN 1 ELSE 0 END) AS BIGINT) AS loc_match_nn,
         CAST(sum(CASE WHEN k0 % 10 = 3 OR (k*17) % 1000 >= 345 THEN 1 ELSE 0 END) AS BIGINT) AS loc_pred_nn
  FROM keys
)
SELECT n AS n_events,
       n - perturbed AS exact_match_num,
       8*n - perturbed AS field_match_num,
       8*n AS field_total,
       n - perturbed AS location_match_num,
       n AS action_match_num,
       loc_match_nn AS loc_match_nonnull,
       loc_pred_nn AS loc_pred_nonnull
FROM m
"""
