"""Events → (event_id, pred, obj, obj_idx) triples.

The reference's per-row 8-key JSON object (``augmentation/utils.py:8``)
becomes triple rows; the list-valued ``attendees`` field explodes into
multiple ``attendee`` triples whose ``obj_idx`` preserves text order so the
original ordered list is reconstructable (SURVEY.md §1.4).

Narrow stage: a union of projections + one posexplode; no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALAR_PREDS = ["action", "date", "time", "location", "duration", "recurrence", "notes"]

SLIM_EVENT_COLS = [
    "event_id", "conv_id", "turn_idx",
    "action", "date", "time", "attendees",
    "location", "duration", "recurrence", "notes",
]


def extract_triples(
    transcripts: DataFrame, preds: list[str] | None = None
) -> DataFrame:
    """Fused transcripts → triples path: projects away text/ts/tool BEFORE
    the canonicalize shuffle (min_by's struct blocks Catalyst's own column
    pruning there), roughly halving the shuffle payload.

    ``preds`` restricts which predicates are emitted; the slim projection
    then drops the unneeded field columns so Catalyst prunes their
    extraction expressions entirely (the merge key action/date/time is
    always extracted — canonicalization needs it). The entity-pool queries
    use this: counting attendees never pays for location/duration/
    recurrence/notes normalization."""
    from .canonicalize import canonicalize_events
    from .extract import extract_events

    if preds is None:
        slim_cols = SLIM_EVENT_COLS
    else:
        need = {"event_id", "conv_id", "turn_idx", "action", "date", "time"}
        need |= {p for p in preds if p in SCALAR_PREDS}
        if "attendee" in preds:
            need.add("attendees")
        slim_cols = [c for c in SLIM_EVENT_COLS if c in need]
    slim = extract_events(transcripts).select(*slim_cols)
    return events_to_triples(canonicalize_events(slim), preds=preds)


_EMPTY_TRIPLES = "CAST(array() AS array<struct<pred:string,obj:string,obj_idx:int>>)"
_KEY = ["event_id", "conv_id", "turn_idx"]


def events_to_triples(
    events: DataFrame, preds: list[str] | None = None
) -> DataFrame:
    """Single-pass explode: scalar fields and the attendee list are merged
    into struct rows so the upstream plan (scan → extract → canonicalize
    exchange) executes exactly once — a union of two projections would
    re-run it per branch.

    Physical shape: two codegen'd Generate stages. The first
    ``posexplode_outer(attendees)`` yields one row per attendee (or one
    null row); the second explodes a per-row struct array that carries the
    scalar predicates ONLY on the first attendee row. The former
    single-explode form built the array with higher-order
    ``transform``/``filter`` — CodegenFallback, so the ENTIRE array
    construction (10 struct allocs × interpreted per-field eval) ran
    interpreted per event (perf lessons #10/#13); here every expression is
    inside WholeStageCodegen and the null-obj filter is a row-level
    codegen filter above the explode.

    The plan is written as SQL text, three ``selectExpr`` and one
    ``where``: ``run_pipeline`` builds it on the driver on every build and
    resume, and the same plan built from Column objects costs ten times
    the py4j round trips.

    ``preds`` (optional) emits only the named predicates — combined with a
    slim upstream projection this prunes unused extractors.
    """
    scalars = [p for p in SCALAR_PREDS if preds is None or p in preds]
    with_att = (preds is None or "attendee" in preds) and (
        "attendees" in events.columns
    )

    cols = [*_KEY, *(f"`{p}`" for p in scalars)]
    if with_att:
        e = events.selectExpr(*cols, "posexplode_outer(attendees) AS (_ai, _a)")
        first = "_ai IS NULL OR _ai = 0"
        att_arr = (
            "CASE WHEN _a IS NOT NULL THEN array(named_struct("
            "'pred', 'attendee', 'obj', _a, 'obj_idx', CAST(_ai AS INT)))"
            f" ELSE {_EMPTY_TRIPLES} END"
        )
    else:
        e = events.selectExpr(*cols)
        first = "true"
        att_arr = _EMPTY_TRIPLES

    scalar_arr = _EMPTY_TRIPLES
    if scalars:
        structs = ", ".join(
            f"named_struct('pred', '{p}', 'obj', `{p}`, 'obj_idx', 0)"
            for p in scalars
        )
        scalar_arr = f"CASE WHEN {first} THEN array({structs}) ELSE {scalar_arr} END"

    return (
        e.selectExpr(*_KEY, f"explode(concat({scalar_arr}, {att_arr})) AS t")
        .where("t.obj IS NOT NULL")
        .selectExpr(*_KEY, "t.pred", "t.obj", "t.obj_idx")
    )


def triples_to_events(triples: DataFrame) -> DataFrame:
    """Inverse: rebuild the 8-field event rows from triples (attendee order
    restored via obj_idx). One shuffle on event_id."""
    return (
        triples.groupBy("event_id", "conv_id", "turn_idx")
        .agg(
            *[
                F.max(F.when(F.col("pred") == p, F.col("obj"))).alias(p)
                for p in SCALAR_PREDS
            ],
            F.when(
                F.count(F.when(F.col("pred") == "attendee", 1)) > 0,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("pred") == "attendee",
                                F.struct("obj_idx", "obj"),
                            )
                        )
                    ),
                    lambda s: s["obj"],
                ),
            ).alias("attendees"),
        )
        .select(
            "event_id", "conv_id", "turn_idx", "action", "date", "time",
            "attendees", "location", "duration", "recurrence", "notes",
        )
    )
