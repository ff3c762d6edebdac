"""Field-level evaluation with the reference's exact comparison semantics.

Replicates ``src/evaluate_finetuned.py:48-99`` (``compute_metrics``):

* raw ``==`` equality per field — case/whitespace-sensitive, ordered-list
  equality for attendees, ``null == null`` counts as correct;
* field accuracies are fractions of ALL samples (an undetected event scores
  0 on every field);
* ``exact_match`` = all 8 fields equal;
* plus per-field precision/recall over non-null values (the P/R ≥ 0.95 gate
  from BASELINE.json).

The positional ``zip(predictions, targets)`` of the reference
(``src/evaluate_baseline.py:69``) becomes an equi-join on the stable row key
``(conv_id, turn_idx)`` — never positional in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import JAVA_WS_CLASS
from ..schemas import TARGET_KEYS


def join_pred_gold(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Full-outer equi-join on (conv_id, turn_idx); missing predictions /
    spurious detections surface as all-null sides."""
    p = pred.select(
        "conv_id", "turn_idx", *[F.col(f).alias(f"p_{f}") for f in TARGET_KEYS]
    )
    g = gold.select(
        "conv_id", "turn_idx", *[F.col(f).alias(f"g_{f}") for f in TARGET_KEYS]
    )
    return p.join(g, ["conv_id", "turn_idx"], "full_outer")


def field_metrics(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """One-row DataFrame: per-field accuracy (reference semantics), per-field
    precision/recall, and exact_match. Single partial+final hash aggregate."""
    j = join_pred_gold(pred, gold)
    eqs = [F.col(f"p_{f}").eqNullSafe(F.col(f"g_{f}")) for f in TARGET_KEYS]
    aggs = []
    for f, eq in zip(TARGET_KEYS, eqs):
        p_nn = F.col(f"p_{f}").isNotNull()
        g_nn = F.col(f"g_{f}").isNotNull()
        aggs.append(F.avg(eq.cast("double")).alias(f"{f}_accuracy"))
        # precision: of predicted non-null values, how many match gold
        aggs.append(
            (F.sum((eq & p_nn).cast("long")) / F.sum(p_nn.cast("long"))).alias(
                f"{f}_precision"
            )
        )
        # recall: of gold non-null values, how many were predicted exactly
        aggs.append(
            (F.sum((eq & g_nn).cast("long")) / F.sum(g_nn.cast("long"))).alias(
                f"{f}_recall"
            )
        )
    exact = F.avg(
        F.when(eqs[0] & eqs[1] & eqs[2] & eqs[3] & eqs[4] & eqs[5] & eqs[6] & eqs[7], 1.0)
        .otherwise(0.0)
    ).alias("exact_match")
    micro = sum(eq.cast("double") for eq in eqs) / F.lit(float(len(TARGET_KEYS)))
    return j.agg(exact, F.avg(micro).alias("field_accuracy"), *aggs)


def metrics_dict(pred: DataFrame, gold: DataFrame) -> dict:
    return field_metrics(pred, gold).collect()[0].asDict()


_ASCII_WS_STRIP = f"^{JAVA_WS_CLASS}+|{JAVA_WS_CLASS}+$"


def _strip_ws(c: F.Column) -> F.Column:
    """Python ``str.strip()`` analog for the canonical metric: removes the
    full ASCII whitespace class from both ends (``F.trim`` strips ONLY the
    space character — a '\\t'/'\\n'-padded field would be forgiven by the
    reference but counted as a mismatch; round-3 advice). Documented
    deviation, same policy as the text tokenizer: Python strip() also removes
    UNICODE whitespace (\\xa0, \\u2028, …), which this ASCII class does
    not — the grammar never emits unicode padding."""
    return F.regexp_replace(c, _ASCII_WS_STRIP, "")


def canonical_eq(field: str) -> F.Column:
    """Per-field equality under the reference's ALTERNATIVE metric module
    (``src/metrics.py:9-17`` ``canonicalize``): strings compare after
    strip().lower(); None passes through (null == null counts as equal);
    non-strings — the attendees LIST — are left untouched and compare raw
    (``isinstance(v, str)`` is False for lists in the reference)."""
    p, g = F.col(f"p_{field}"), F.col(f"g_{field}")
    if field == "attendees":
        return p.eqNullSafe(g)
    return F.when(p.isNull() | g.isNull(), p.eqNullSafe(g)).otherwise(
        F.lower(_strip_ws(p)) == F.lower(_strip_ws(g))
    )


def field_metrics_canonical_counts_paired(j: DataFrame) -> DataFrame:
    """The reference's ``src/metrics.py:9-40`` metric family (canonicalized
    micro-F1, ``json_valid``, ``exact_match``) as exact BIGINT counts —
    the SECOND metric semantics the reference ships, alongside the raw-``==``
    ``compute_metrics`` of :func:`field_metrics_counts_paired`:

    * ``json_valid_num``: rows with all 8 keys present (``json_valid``,
      src/metrics.py:20-22) — structural under schema enforcement, counted
      to keep the contract explicit;
    * ``field_match_canon_num / field_total``: the micro-F1 as an exact
      fraction (``per_field_f1`` sums per-field 0/1 scores over 8 fields);
    * ``exact_match_canon_num``: all-8-canonical-fields-equal rows.

    Input is a paired DataFrame carrying ``p_<field>`` / ``g_<field>``
    columns — :func:`join_pred_gold` of a prediction and a gold table.
    When pred is a deterministic perturbation of gold (same rows, unique
    ``(conv_id, turn_idx)`` key — one event per transcript turn by
    construction, ``extract.py:444``), the full-outer self-join is identity
    pairing, so deriving both column families in ONE projection of ONE
    extraction lineage yields byte-identical counts with half the work."""
    eqs = {f: canonical_eq(f) for f in TARGET_KEYS}
    all_eq = None
    for eq in eqs.values():
        all_eq = eq if all_eq is None else (all_eq & eq)
    return j.agg(
        F.count("*").alias("n_events"),
        # a prediction that exists always carries all 8 keys under schema
        # enforcement; action is never-null in a present prediction, so its
        # presence marks "a parseable prediction row joined here"
        F.sum(F.col("p_action").isNotNull().cast("long")).alias("json_valid_num"),
        F.sum(all_eq.cast("long")).alias("exact_match_canon_num"),
        F.sum(sum(eq.cast("long") for eq in eqs.values())).alias(
            "field_match_canon_num"
        ),
        (F.count("*") * 8).alias("field_total"),
        F.sum(eqs["location"].cast("long")).alias("location_match_canon_num"),
        F.sum(eqs["action"].cast("long")).alias("action_match_canon_num"),
        F.sum(eqs["time"].cast("long")).alias("time_match_canon_num"),
    )


def field_metrics_counts_paired(j: DataFrame) -> DataFrame:
    """Exact-integer variant of :func:`field_metrics` for engine-comparable
    outputs: numerators and denominators as BIGINT, never float ratios (a
    last-ulp divergence in a rounded average would flip a cross-engine hash
    compare). Consumers derive exact_match = exact_match_num / n_events
    etc. themselves. Input is a paired ``p_<field>`` / ``g_<field>``
    DataFrame (see :func:`field_metrics_canonical_counts_paired` for when
    identity pairing replaces :func:`join_pred_gold`)."""
    eqs = {f: F.col(f"p_{f}").eqNullSafe(F.col(f"g_{f}")) for f in TARGET_KEYS}
    all_eq = None
    for eq in eqs.values():
        all_eq = eq if all_eq is None else (all_eq & eq)
    p_loc_nn = F.col("p_location").isNotNull()
    return j.agg(
        F.count("*").alias("n_events"),
        F.sum(all_eq.cast("long")).alias("exact_match_num"),
        F.sum(sum(eq.cast("long") for eq in eqs.values())).alias("field_match_num"),
        (F.count("*") * 8).alias("field_total"),
        F.sum(eqs["location"].cast("long")).alias("location_match_num"),
        F.sum(eqs["action"].cast("long")).alias("action_match_num"),
        F.sum((eqs["location"] & p_loc_nn).cast("long")).alias("loc_match_nonnull"),
        F.sum(p_loc_nn.cast("long")).alias("loc_pred_nonnull"),
    )
