"""The correctness gate: field-level P/R >= 0.95 (BASELINE.json) with the
reference's compute_metrics semantics (src/evaluate_finetuned.py:48-99)."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.operators import (
    canonicalize_events,
    extract_events,
)
from calendar_event_entity_extraction_spark.operators.metrics import metrics_dict
from calendar_event_entity_extraction_spark.schemas import TARGET_KEYS
from calendar_event_entity_extraction_spark.synth import (
    gold_events,
    keys_df,
    transcripts_from_keys,
)

N = 5000


@pytest.fixture(scope="module")
def pred_and_gold(spark):
    keys = keys_df(spark, N).cache()
    pred = canonicalize_events(extract_events(transcripts_from_keys(keys)))
    gold = gold_events(keys)
    return pred, gold


def test_field_pr_gate(pred_and_gold):
    pred, gold = pred_and_gold
    m = metrics_dict(pred, gold)
    assert m["exact_match"] >= 0.95, m
    assert m["field_accuracy"] >= 0.95, m
    for f in TARGET_KEYS:
        assert m[f"{f}_accuracy"] >= 0.95, (f, m)
        assert m[f"{f}_precision"] >= 0.95, (f, m)
        assert m[f"{f}_recall"] >= 0.95, (f, m)


def test_detection_no_false_positives_or_misses(pred_and_gold):
    pred, gold = pred_and_gold
    n_pred, n_gold = pred.count(), gold.count()
    assert n_pred == n_gold
    assert n_gold > N  # multi-event conversations present


def test_attendees_text_order_preserved(pred_and_gold):
    pred, _ = pred_and_gold
    # grammar key k=3: n_att=3, names in text order
    row = pred.filter(F.col("conv_id") == "conv-3").collect()[0]
    from calendar_event_entity_extraction_spark.synth import event_spec

    assert row["attendees"] == event_spec(3).attendees


UNIT_CASES = [
    # (text, field, expected) — surface forms from the reference's raw data
    # and generator grammar (SURVEY.md §2.6, FIXTURES.md §3); expectations
    # follow the corpus-measured annotation function
    ("Quick meeting at the coworking space on 10/05/2025 starting at 11:00 am for 45 minutes.", "date", "10/05/2025"),
    ("Quick meeting at the coworking space on 10/05/2025 starting at 11:00 am for 45 minutes.", "time", "11:00 AM"),
    ("Quick meeting at the coworking space on 10/05/2025 starting at 11:00 am for 45 minutes.", "location", "coworking space"),
    ("Quick meeting at the coworking space on 10/05/2025 starting at 11:00 am for 45 minutes.", "duration", "45 minutes"),
    ("Press strategy 2024-01-15 9 AM.", "date", "2024-01-15"),  # mid-text ISO verbatim
    ("2024-01-15 9 AM press strategy.", "date", "15/01/2024"),  # leading ISO converts
    ("Press strategy 2024-01-15 9 AM.", "time", "9:00 AM"),
    ("Status check 2024-02-09 10:30 am James, Mia.", "attendees", ["James", "Mia"]),
    ("Budget review 13 Mar 2024 13:00 on Zoom.", "time", "13:00"),  # >=13 verbatim
    ("Project discussion 28th Jan, 2024 10:00 Teams", "time", "10:00 AM"),  # <13 + AM
    ("Budget review 13 Mar 2024 13:00 on Zoom.", "date", "13/03/2024"),
    ("Budget review 13 Mar 2024 13:00 on Zoom.", "location", "Zoom"),
    ("Sync on May 10, 2024 at 4pm w/ Alice & Bob for 1 hr.", "duration", "1 hr"),  # verbatim (corpus majority)
    ("Sync on May 10, 2024 at 4pm w/ Alice & Bob for 1 hr.", "attendees", ["Alice", "Bob"]),
    ("Sync on May 10, 2024 at 4pm w/ Alice & Bob for 1 hr.", "date", "10/05/2024"),
    ("Sync on May 10, 2024 at 4pm w/ Alice & Bob for 1 hr.", "time", "4:00 PM"),
    ("with Jacob, Sophie, and Emma on 8th, December 2025 at 2 PM for 45 minutes.", "attendees", ["Jacob", "Sophie", "Emma"]),  # Oxford
    ("with Jacob, Sophie, and Emma on 8th, December 2025 at 2 PM for 45 minutes.", "date", "08/12/2025"),
    ("Talk Feb 5, 2024 2pm w/ Emily + John", "attendees", ["Emily", "John"]),  # + joiner
    ("Weekly check-in 21 - Oct - 2023 8:15 am Teams", "date", "21/10/2023"),  # spaced dash
    ("Weekly check-in 21 - Oct - 2023 8:15 am Teams", "time", "8:15 AM"),
    ("weekly Standup on 5-4-2024 at noon for 45mins.", "recurrence", "weekly"),
    ("Weekly plan on 5-4-2024 at noon.", "recurrence", "weekly"),  # initial Weekly lowers
    ("weekly Standup on 5-4-2024 at noon for 45mins.", "date", "05/04/2024"),  # dayfirst
    ("weekly Standup on 5-4-2024 at noon for 45mins.", "time", "12:00 PM"),
    ("weekly Standup on 5-4-2024 at noon for 45mins.", "duration", "45 mins"),
    ("weekly Standup on 5-4-2024 at noon for 45mins.", "action", "weekly Standup"),  # rec kept in action
    ("Demo session 10th May 2024 at 9:05 AM. Note: bring the slides.", "notes", "bring the slides"),
    ("Demo session 10th May 2024 at 9:05 AM. Note: bring the slides.", "time", "9:05 AM"),
    # G3 relative dates resolved against the pinned reference-now 2025-06-15
    ("Standup tomorrow at 4pm.", "date", "16/06/2025"),
    ("Standup day after tomorrow at 4pm.", "date", "17/06/2025"),
    # G4 range: gold time = start; duration derived end-start when absent
    ("Client call on 10/05/2024 from 9:30 am to 11:00 am on Zoom.", "time", "9:30 AM"),
    ("Client call on 10/05/2024 from 9:30 am to 11:00 am on Zoom.", "duration", "90 minutes"),
    ("Review 10/05/2024 from 11:30 pm to 1:00 am.", "duration", "90 minutes"),  # midnight wrap
    # P9 noise: mtg expansion before a name, kept before a date
    ("Strategy mtg w/ Dana 2nd, Jun 2025 1:45 pm on Zoom.", "action", "Strategy meeting"),
    ("Team mtg 10/05/2024 at 11:00 am (IST) w/ Alice.", "action", "Team mtg"),
    ("Team mtg 10/05/2024 at 11:00 am (IST) w/ Alice.", "time", "11:00 AM"),
]


@pytest.mark.parametrize("text,field,expected", UNIT_CASES)
def test_extractor_unit(spark, text, field, expected):
    df = spark.createDataFrame(
        [("c", 0, "user", text, None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = extract_events(df).collect()
    assert len(rows) == 1
    assert rows[0][field] == expected, rows[0].asDict()


# ~100 kB turns that repeat one regex group tens of thousands of times,
# each with a date and a time so detection lets them into the cascade.
# Kept out of specs.HOSTILE_TEXTS, which the kernel-equality tests iterate.
LONG_REPEAT_SHAPES = {
    "name_chain": "Sync " + "Alex, " * 16_666 + "Bob on 10/05/2024 at 4pm.",
    "with_roster": "Sync with " + "Alex and " * 11_111 + "Bob on 10/05/2024 at 4pm.",
    "leading_times": "4pm " * 25_000 + "Sync on 10/05/2024.",
    "capitalized_run": "Sync on 10/05/2024 at 4pm " + "Alex " * 20_000 + "end.",
}
LONG_REPEAT_BUDGET_S = 240

# argv: repo dir, tests dir. A child process, because a StackOverflowError
# in an executor thread shuts the whole local-mode JVM down.
_LONG_REPEAT_RUN = """
import json, sys
sys.path[:0] = sys.argv[1:3]
from calendar_event_entity_extraction_spark.operators.extract import extract_events
from calendar_event_entity_extraction_spark.session import get_spark
from test_extract import LONG_REPEAT_SHAPES
spark = get_spark(app_name="long-repeat", cores=2)
df = spark.createDataFrame(
    [(name, 0, "user", t, None, None) for name, t in LONG_REPEAT_SHAPES.items()],
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
)
out = {
    r["conv_id"]: len(r["attendees"] or [])
    for r in extract_events(df).select("conv_id", "attendees").collect()
}
print(json.dumps(out))
"""


def test_long_repeated_group_turns_complete():
    """Every repeated group in the cascade is bounded, so these turns
    extract instead of overflowing the JVM's regex recursion; the name
    chain and the ``with …`` roster are cut at the bound (1 + 64 names)."""
    tests = os.path.dirname(os.path.abspath(__file__))
    child = subprocess.run(
        [sys.executable, "-c", _LONG_REPEAT_RUN, os.path.dirname(tests), tests],
        capture_output=True,
        text=True,
        env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
        timeout=LONG_REPEAT_BUDGET_S,
    )
    assert child.returncode == 0, child.stderr[-3000:]
    got = json.loads(child.stdout.strip().splitlines()[-1])
    assert got == {
        "name_chain": 65,
        "with_roster": 65,
        "leading_times": 0,
        "capitalized_run": 0,
    }
