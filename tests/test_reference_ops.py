"""Reference-operator parity tests: schema enforcement (P1/P2), prompts
(P5/P6), JSON extraction (P7), augmentation (J1, renderers, A2, O2), JSONL
round-trip (S1/S2), EP1 pipeline."""

from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.functions.json_extract import (
    first_json_object_col,
    first_json_object_depthscan,
    parse_event_json_col,
)
from calendar_event_entity_extraction_spark.functions.prompts import (
    build_prompt_col,
    invert_prompt_col,
)
from calendar_event_entity_extraction_spark.operators.augment import (
    analyze_dataset,
    deterministic_shuffle,
    pick_pool_member,
    replace_whole_word_ci,
)
from calendar_event_entity_extraction_spark.operators.schema_enforce import (
    enforce_event_schema,
)


def test_enforce_event_schema_nulls(spark):
    df = spark.createDataFrame(
        [("Sync", "", "  ", ["Al", ""], None)],
        "action string, date string, time string, attendees array<string>, location string",
    )
    r = enforce_event_schema(df).collect()[0]
    assert r["action"] == "Sync"
    assert r["date"] is None and r["time"] is None  # "" / blank → null
    assert r["attendees"] == ["Al"]  # blank member dropped
    assert r["location"] is None
    assert r["duration"] is None and r["recurrence"] is None and r["notes"] is None


def test_enforce_empty_list_to_null(spark):
    df = spark.createDataFrame(
        [("a", [])], "action string, attendees array<string>"
    )
    assert enforce_event_schema(df).collect()[0]["attendees"] is None


def test_prompt_roundtrip(spark):
    df = spark.createDataFrame([("Meet Bob\n  at 4pm.",)], "text string")
    for variant in ("eval", "minimal", "instruct", "chat"):
        p = df.select(build_prompt_col(F.col("text"), variant).alias("p"))
        back = p.select(invert_prompt_col(F.col("p"), variant).alias("t")).collect()[0]["t"]
        assert back == "Meet Bob at 4pm."  # newline-collapsed + stripped


def test_first_json_object_extraction(spark):
    cases = [
        ('noise {"action": "Sync", "date": "10/05/2025"} trailing', True),
        ("no json here", False),
        ('{"a": {"nested": 1}, "action": "X"} tail {"b": 2}', True),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
    flat = [r[0] for r in df.select(first_json_object_col(F.col("t"))).collect()]
    deep = [r[0] for r in df.select(first_json_object_depthscan(F.col("t"))).collect()]
    assert flat == deep
    assert flat[0] == '{"action": "Sync", "date": "10/05/2025"}'
    assert flat[1] is None
    assert flat[2] == '{"a": {"nested": 1}, "action": "X"}'

    parsed = df.select(parse_event_json_col(F.col("t")).alias("e")).collect()
    assert parsed[0]["e"]["action"] == "Sync"
    assert parsed[1]["e"] is None


def test_whole_word_ci_replace(spark):
    df = spark.createDataFrame(
        [("Meet at ZOOM not zoomtown", "Zoom", "Teams")], "t string, s string, d string"
    )
    out = df.select(
        replace_whole_word_ci(F.col("t"), F.col("s"), F.col("d")).alias("r")
    ).collect()[0]["r"]
    assert out == "Meet at Teams not zoomtown"


def test_pick_pool_member_deterministic(spark):
    df = spark.createDataFrame([(str(i),) for i in range(200)], "k string")
    a = df.select(pick_pool_member(["x", "y", "z"], F.col("k")).alias("p"))
    counts = {r["p"]: r["count"] for r in a.groupBy("p").count().collect()}
    assert set(counts) == {"x", "y", "z"}  # all members used
    b = df.select(pick_pool_member(["x", "y", "z"], F.col("k")).alias("p"))
    assert a.exceptAll(b).count() == 0  # stable


def test_analyze_dataset(spark):
    df = spark.createDataFrame(
        [
            ("t1", "A", "d", None, None, None, None, None, None),
            ("t2", "B", "d", "t", None, "L", None, None, None),
        ],
        "text string, action string, date string, time string, attendees array<string>,"
        "location string, duration string, recurrence string, notes string",
    )
    r = analyze_dataset(df).collect()[0]
    assert r["n_rows"] == 2 and r["action_nonnull"] == 2
    assert r["time_nonnull"] == 1 and r["location_nonnull"] == 1
    assert r["text_len_min"] == 2 and r["text_len_max"] == 2


def test_deterministic_shuffle_stable(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(500)], "k long, v long")
    a = [r["k"] for r in deterministic_shuffle(df, ["k"], 42).collect()]
    b = [r["k"] for r in deterministic_shuffle(df, ["k"], 42).collect()]
    c = [r["k"] for r in deterministic_shuffle(df, ["k"], 43).collect()]
    assert a == b and a != c and sorted(a) == list(range(500))


def test_jsonl_roundtrip(spark, tmp_path):
    from calendar_event_entity_extraction_spark.sources.tables import (
        read_jsonl,
        write_jsonl,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_text", T.StringType()),
            T.StructField("action", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [("Meet ünïcode at 4pm", "Meet"), ("Other", None)], schema
    )
    path = str(tmp_path / "jsonl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, schema)
    assert back.count() == 2
    assert df.exceptAll(back).count() == 0


def test_augment_pipeline_end_to_end(spark):
    from calendar_event_entity_extraction_spark.operators import (
        canonicalize_events,
        extract_events,
    )
    from calendar_event_entity_extraction_spark.plans.augment import augment_pipeline
    from calendar_event_entity_extraction_spark.synth import (
        keys_df,
        transcripts_from_keys,
    )

    ev = canonicalize_events(
        extract_events(transcripts_from_keys(keys_df(spark, 600)))
    )
    out = augment_pipeline(ev).cache()
    n = out.count()
    assert 0 < n <= 700  # 600 conversations + second events
    assert set(r["split"] for r in out.select("split").distinct().collect()) <= {
        "train", "eval", "test"
    }
    # deterministic: rerun produces identical rows
    out2 = augment_pipeline(ev)
    cols = ["conv_id", "turn_idx", "text", "location", "split"]
    assert out.select(cols).exceptAll(out2.select(cols)).count() == 0
    # no leakage: shared signatures never span train and eval/test
    from calendar_event_entity_extraction_spark.functions.text import text_signature

    sigs = out.withColumn("_sig", text_signature(F.col("text")))
    leak = (
        sigs.filter(F.col("split") == "train")
        .select("_sig")
        .join(sigs.filter(F.col("split") != "train").select("_sig"), "_sig")
    )
    assert leak.count() == 0


def test_swap_attendees_with_pool(spark):
    from calendar_event_entity_extraction_spark.operators.augment import (
        swap_attendees_with_pool,
    )

    df = spark.createDataFrame(
        [
            ("conv-1", 0, "Team sync at 3pm with Alice and Bob on Zoom.", ["Alice", "Bob"]),
            ("conv-2", 1, "Standup at 9am.", None),
        ],
        "conv_id string, turn_idx int, text string, attendees array<string>",
    )
    pool = ["Zara", "Vikram", "Priya"]
    out = {r["conv_id"]: r for r in swap_attendees_with_pool(df, pool).collect()}
    r1 = out["conv-1"]
    # every attendee independently swapped to a pool member, text rewritten
    assert all(a in pool for a in r1["attendees"]) and len(r1["attendees"]) == 2
    assert "Alice" not in r1["text"] and "Bob" not in r1["text"]
    for a in r1["attendees"]:
        assert a in r1["text"]
    # surrounding text intact
    assert r1["text"].startswith("Team sync at 3pm with ")
    assert r1["text"].endswith(" on Zoom.")
    # null-attendee rows pass through untouched
    assert out["conv-2"]["text"] == "Standup at 9am." and out["conv-2"]["attendees"] is None
    # deterministic under re-evaluation
    again = {r["conv_id"]: r for r in swap_attendees_with_pool(df, pool).collect()}
    assert again["conv-1"]["attendees"] == r1["attendees"]
