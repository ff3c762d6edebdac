"""As-of join correctness: the plain, bucketed and grouped forms."""

import numpy as np
import pandas as pd
import pytest

from calendar_event_entity_extraction_spark.operators.asof import (
    asof_join,
    asof_join_bucketed,
    asof_join_grouped,
)


@pytest.mark.parametrize("bucket_seconds", [100, 365 * 86400])
def test_asof_bucketed_matches_plain_on_hot_key(spark, bucket_seconds):
    """The skew-hardened bucketed as-of must equal the plain union+window
    path on a HOT-KEY fixture (one key owns ~80% of both sides, with
    repeated right timestamps to exercise the tie-carry). bucket_seconds=100
    splits the hot key across ~50 buckets (carries everywhere);
    365d degenerates to one bucket (must equal trivially)."""
    rng = np.random.RandomState(3)
    left = pd.DataFrame(
        {
            "k": np.concatenate([np.zeros(300, dtype=int), rng.randint(1, 5, 60)]),
            "lts": rng.randint(0, 5000, 360).astype("float64"),
            "lid": np.arange(360),
        }
    )
    right = pd.DataFrame(
        {
            "k": np.concatenate([np.zeros(150, dtype=int), rng.randint(1, 5, 50)]),
            "rts": rng.randint(0, 5000, 200).astype("float64"),
            "payload": np.arange(200).astype("int64"),
        }
    )
    kwargs = dict(
        left_key="k", right_key="k", left_ts="lts", right_ts="rts",
        payload="payload", out_col="asof_payload",
    )
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    plain = asof_join(ldf, rdf, **kwargs).toPandas().sort_values("lid")
    bucketed = (
        asof_join_bucketed(ldf, rdf, bucket_seconds=bucket_seconds, **kwargs)
        .toPandas()
        .sort_values("lid")
    )
    assert list(plain["asof_payload"].fillna(-1)) == list(
        bucketed["asof_payload"].fillna(-1)
    )


def test_asof_grouped_matches_plain(spark):
    """The cogrouped merge_asof fallback must equal the union+window path,
    including on keys with no right rows (null payload) and repeated right
    timestamps (max-payload tie)."""
    rng = np.random.RandomState(5)
    left = pd.DataFrame(
        {
            "k": rng.randint(0, 6, 120),  # key 5 has no right rows
            "lts": rng.randint(0, 500, 120).astype("float64"),
            "lid": np.arange(120),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 80),
            "rts": rng.randint(0, 500, 80).astype("float64"),
            "payload": np.arange(80).astype("int64"),
        }
    )
    kwargs = dict(
        left_key="k", right_key="k", left_ts="lts", right_ts="rts",
        payload="payload", out_col="asof_payload",
    )
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    plain = asof_join(ldf, rdf, **kwargs).toPandas().sort_values("lid")
    grouped = (
        asof_join_grouped(ldf, rdf, **kwargs).toPandas().sort_values("lid")
    )
    assert list(plain["asof_payload"].fillna(-1)) == list(
        grouped["asof_payload"].fillna(-1)
    )


@pytest.mark.parametrize("seed", [0, 1])
def test_asof_join_matches_pandas_merge_asof(spark, seed):
    rng = np.random.RandomState(seed)
    left = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 60),
            "lts": rng.randint(0, 1000, 60).astype("float64"),
            "lid": np.arange(60),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.randint(0, 5, 40),
            "rts": rng.randint(0, 1000, 40).astype("float64"),
            "payload": np.arange(40).astype("int64"),
        }
    )
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            left_key="k",
            right_key="k",
            left_ts="lts",
            right_ts="rts",
            payload="payload",
            out_col="asof_payload",
        )
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    # pandas ground truth; ties on rts broken to max payload like the engine
    r_sorted = right.sort_values(["rts", "payload"]).reset_index(drop=True)
    expect = pd.merge_asof(
        left.sort_values(["lts", "lid"]),
        r_sorted,
        left_on="lts",
        right_on="rts",
        by="k",
        direction="backward",
        allow_exact_matches=True,
    ).sort_values("lid").reset_index(drop=True)
    assert list(got["asof_payload"].fillna(-1)) == list(
        expect["payload"].fillna(-1)
    )
