"""Co-referent event canonicalization within a conversation.

The reference has no multi-turn notion (one sentence per example); the
`north_rule` requires merging co-referent events within a ``conv_id`` using
stable ``(conv_id, turn_idx)`` ordering: events in the same conversation with
identical normalized (action, date, time) are the same real-world event —
the earliest turn wins and keeps its ``event_id``.

Physical shape: ONE shuffle on the merge key via
``min_by(struct(...), turn_idx)``. Spark plans this as a SortAggregate —
HashAggregate requires fixed-width mutable buffers and ANY string-typed
aggregation buffer disqualifies it (verified empirically: even
``min(string)`` sort-aggregates), so no formulation of this merge can hash-
aggregate — but the partial aggregate still collapses echo duplicates
BEFORE the exchange, and the sorts are per-partition over the slim event
projection. Measured ~1.6× faster than the equivalent row_number window
(one sort per side vs a global partition-ordered sort, and hot
conversations pre-merge map-side). The window-function formulation of the
`north_rule` wording lives in ``tests/test_canonicalize.py`` as the
equality pin: both produce identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MERGE_KEY = ["conv_id", "action", "date", "time"]


def canonicalize_events(events: DataFrame) -> DataFrame:
    """Keep the lowest-turn_idx event per (conv_id, action, date, time)."""
    rest = [c for c in events.columns if c not in MERGE_KEY]
    merged = events.groupBy(*MERGE_KEY).agg(
        F.min_by(F.struct(*rest), F.col("turn_idx")).alias("_first")
    )
    return merged.select(
        *[
            F.col(f"_first.{c}").alias(c) if c in rest else F.col(c)
            for c in events.columns
        ]
    )
