"""The two canonicalization formulations (hash-agg min_by vs window
row_number) must be row-identical; echo events must merge."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.operators import extract_events
from calendar_event_entity_extraction_spark.operators.canonicalize import (
    MERGE_KEY,
    canonicalize_events,
)
from calendar_event_entity_extraction_spark.synth import (
    event_spec,
    keys_df,
    transcripts_from_keys,
)

N = 2500


def canonicalize_events_window(events):
    """Window-function formulation (row_number over stable turn ordering)
    of ``canonicalize_events``; same result, one sort-based shuffle."""
    w = Window.partitionBy(*MERGE_KEY).orderBy("turn_idx")
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def test_agg_and_window_formulations_identical(spark):
    ev = extract_events(transcripts_from_keys(keys_df(spark, N))).cache()
    a = canonicalize_events(ev)
    b = canonicalize_events_window(ev)
    cols = sorted(set(a.columns) & set(b.columns) - {"attendees"})
    assert a.count() == b.count()
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0


def test_echo_events_merge_to_earliest_turn(spark):
    from calendar_event_entity_extraction_spark.synth.grammar import (
        has_second_event,
    )

    # keys with an echo: k % 50 == 0 and req_turn+1 < n_turns
    echo_keys = [k for k in range(N) if event_spec(k).has_echo]
    second_keys = [k for k in range(N) if has_second_event(k)]
    assert echo_keys and second_keys
    ev = extract_events(transcripts_from_keys(keys_df(spark, N)))
    canon = canonicalize_events(ev)
    # pre-canonicalization: echo AND second-event conversations have 2 rows
    pre = ev.groupBy("conv_id").count().filter(F.col("count") > 1)
    assert pre.count() == len(echo_keys) + len(second_keys)
    # post: echoes merged to the original request turn…
    rows = {
        r["conv_id"]: r["turn_idx"]
        for r in canon.filter(
            F.col("conv_id").isin([f"conv-{k}" for k in echo_keys])
        ).collect()
    }
    for k in echo_keys:
        assert rows[f"conv-{k}"] == event_spec(k).req_turn
    # …while genuinely distinct second events survive canonicalization
    kept = canon.filter(
        F.col("conv_id").isin([f"conv-{k}" for k in second_keys])
    )
    assert kept.count() == 2 * len(second_keys)
