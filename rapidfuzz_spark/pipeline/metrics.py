"""Evaluation + metrics/lineage tables.

- pairwise_f1_vs_oracle: the BASELINE gate — on the SAME candidate pairs
  (same blocking key), compare the pipeline's match decisions against the
  reference-parity scalar oracle decisions (rapidfuzz_spark.api, itself
  locked to the reference's unit-test vectors). Target >= 0.99.
- cluster_pairwise_f1: predicted same-entity pairs vs truth labels.
- Both are pure joins/aggregations (distributed; no driver loops).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from .. import api


def pairwise_f1_vs_oracle(
    scored: DataFrame, metric: str = "ratio", threshold: float = 0.85
) -> dict:
    """scored must carry text_1, text_2 and nullable ``score`` (the
    pipeline decision is score IS NOT NULL). The oracle decision is the
    scalar API run per pair (independent code path: Python-int kernels,
    no batching/NumPy), Arrow-shipped via a pandas UDF."""

    def oracle(c1: pd.Series, c2: pd.Series) -> pd.Series:
        if metric == "ratio":
            fn = lambda a, b: api.fuzz.ratio(a, b) >= threshold  # noqa: E731
        elif metric in ("jaro", "jaro_winkler"):
            mod = getattr(api, metric)
            fn = lambda a, b: mod.similarity(a, b) >= threshold  # noqa: E731
        else:
            mod = getattr(api, metric)
            fn = (  # noqa: E731
                lambda a, b: mod.normalized_similarity(a, b) >= threshold
            )
        return pd.Series([bool(fn(a, b)) for a, b in zip(c1, c2)])

    from pyspark.sql.functions import pandas_udf

    oracle_udf = pandas_udf(oracle, BooleanType())
    cmp = scored.select(
        F.col("score").isNotNull().alias("pred"),
        oracle_udf("text_1", "text_2").alias("truth"),
    )
    agg = cmp.agg(
        F.sum(F.when(F.col("pred") & F.col("truth"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("truth"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("truth"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg.tp or 0, agg.fp or 0, agg.fn or 0
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": prec, "recall": rec, "f1": f1}


def _pairs_within(entities: DataFrame, id_col: str) -> DataFrame:
    a, b = entities.alias("a"), entities.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") == F.col(f"b.{id_col}"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2")
        )
    )


def cluster_pairwise_f1(predicted: DataFrame, truth: DataFrame) -> dict:
    """predicted/truth: (doc_id, entity_id). Pairwise P/R/F1 over
    same-cluster pairs (cluster sizes bounded, so pair expansion is safe).
    tp/fp/fn come from ONE full outer join of the two pair expansions and
    one aggregate over its side flags, so each self-join runs once."""
    p = _pairs_within(predicted, "entity_id").withColumn("in_p", F.lit(True))
    t = _pairs_within(truth, "entity_id").withColumn("in_t", F.lit(True))
    in_p, in_t = F.col("in_p").isNotNull(), F.col("in_t").isNotNull()
    tp, fp, fn = p.join(t, ["doc_id_1", "doc_id_2"], "full").agg(
        F.count(F.when(in_p & in_t, 1)),
        F.count(F.when(in_p & ~in_t, 1)),
        F.count(F.when(~in_p & in_t, 1)),
    ).first()
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": prec, "recall": rec, "f1": f1}


def write_run_metrics(
    spark: SparkSession, out_dir: str, run_id: str, rows: dict
) -> None:
    """Lineage/metrics table: one row per run stage-metric."""
    import os

    df = spark.createDataFrame(
        [(run_id, k, float(v)) for k, v in rows.items() if isinstance(v, (int, float))],
        "run_id string, metric string, value double",
    )
    df.write.mode("append").parquet(os.path.join(out_dir, "metrics"))

def bcubed(assign: DataFrame) -> DataFrame:
    """B-cubed extrinsic clustering evaluation (Bagga & Baldwin 1998;
    the ER-standard alternative to pairwise F1 — it weights every DOC
    equally instead of every PAIR, so one giant over-merged cluster
    can't dominate the score the way it dominates pairwise counts).

    ``assign``: one row per doc — (doc_id, pred, truth) cluster labels.

    Per doc d: precision(d) = |C_pred(d) ∩ C_truth(d)| / |C_pred(d)|
    and recall(d) symmetrically; B³P / B³R are the doc means, F their
    harmonic mean. Every doc of the intersection cell (p, t) has the
    SAME per-doc scores, so the doc sum collapses to a sum over cells:
    Σ_d prec(d) = Σ_{(p,t)} n_pt · n_pt / n_p. The plan therefore never
    touches doc-level rows after the first aggregation — one
    groupBy(pred, truth) (partial-agg map-side), then a join of the
    cell table against the two cluster-size tables on their own keys,
    then one scalar aggregate. At 10^12 docs the shuffled volume is
    one row per (pred, truth) cell, not per doc.

    Engine-replayable arithmetic: the per-doc ratio n_pt/n_p is one
    IEEE-exact division of exact BIGINTs; it is scaled to integer
    micros (round half-up, matching DuckDB's half-away-from-zero on
    the positive domain) BEFORE the sum, so the accumulation is exact
    integer math with no float ordering; the final mean is a single
    division rounded to 6 dp. F1 is computed from the two already-
    rounded means, so all three stats are bit-reproducible.

    Output: 3 rows — (stat ∈ {bcubed_precision, bcubed_recall,
    bcubed_f1}, value).
    """
    cells = assign.groupBy("pred", "truth").agg(F.count("*").alias("n_pt"))
    n_p = assign.groupBy("pred").agg(F.count("*").alias("n_p"))
    n_t = assign.groupBy("truth").agg(F.count("*").alias("n_t"))
    contrib = (
        cells.join(n_p, "pred")
        .join(n_t, "truth")
        .select(
            "n_pt",
            (
                F.col("n_pt")
                * F.round(
                    F.lit(1000000.0) * F.col("n_pt") / F.col("n_p")
                ).cast("long")
            ).alias("p_micro"),
            (
                F.col("n_pt")
                * F.round(
                    F.lit(1000000.0) * F.col("n_pt") / F.col("n_t")
                ).cast("long")
            ).alias("r_micro"),
        )
    )
    row = contrib.agg(
        F.sum("n_pt").alias("n"),
        F.sum("p_micro").alias("p_sum"),
        F.sum("r_micro").alias("r_sum"),
    ).collect()[0]
    from .problink import _r6

    n = row.n or 0
    if n == 0:
        prec = rec = f1 = 0.0
    else:
        # one exact-integer / exact-integer double division each, then
        # the 6-dp half-away round (problink._r6 — Python's banker's
        # round would disagree with the engines on exact half-ties)
        prec = _r6(row.p_sum / (n * 1000000.0))
        rec = _r6(row.r_sum / (n * 1000000.0))
        f1 = _r6(2 * prec * rec / (prec + rec)) if prec + rec else 0.0
    spark = assign.sparkSession
    return spark.createDataFrame(
        [
            ("bcubed_f1", float(f1)),
            ("bcubed_precision", float(prec)),
            ("bcubed_recall", float(rec)),
        ],
        "stat string, value double",
    )

def blocking_quality(pairs: DataFrame, truth: DataFrame) -> DataFrame:
    """Blocking-scheme evaluation (Christen, "Data Matching", 2012 ch.7
    — the standard pre-scoring quality triple every ER survey reports):

    - pair completeness PC = |cand ∩ true| / |true|   (candidate recall
      — the ceiling on the whole pipeline's recall),
    - pairs quality     PQ = |cand ∩ true| / |cand|   (candidate
      precision — how much scoring work is wasted),
    - reduction ratio   RR = 1 − |cand| / C(n,2)      (how much of the
      quadratic all-pairs space blocking removed).

    ``pairs``: candidate pairs (doc_id_1 < doc_id_2, deduped);
    ``truth``: (doc_id, entity_id) labels.

    All three are single IEEE divisions of exact counts, 6-dp
    half-away rounded — bit-reproducible. The counts are distributed
    joins/aggregates; only the five scalars reach the driver. At
    10^12 docs C(n,2) overflows doubles' integer range but not Python
    ints (driver-side exact), and the true-pair self-join stays safe
    because entity sizes are bounded (same argument as
    cluster_pairwise_f1).

    Output: (stat, value double) rows — the three ratios plus the raw
    cand/true/tp counts.
    """
    from .problink import _r6

    n_docs = truth.count()
    n_cand = pairs.select("doc_id_1", "doc_id_2").count()
    t = _pairs_within(truth, "entity_id")
    n_true = t.count()
    n_tp = (
        pairs.select("doc_id_1", "doc_id_2")
        .join(t, ["doc_id_1", "doc_id_2"])
        .count()
    )
    total = n_docs * (n_docs - 1) // 2
    pc = _r6(n_tp / n_true) if n_true else 1.0
    pq = _r6(n_tp / n_cand) if n_cand else 1.0
    rr = _r6(1 - n_cand / total) if total else 0.0
    spark = pairs.sparkSession
    return spark.createDataFrame(
        [
            ("cand_pairs", float(n_cand)),
            ("pair_completeness", float(pc)),
            ("pairs_quality", float(pq)),
            ("reduction_ratio", float(rr)),
            ("tp_pairs", float(n_tp)),
            ("true_pairs", float(n_true)),
        ],
        "stat string, value double",
    )


def adjusted_rand_index(assign: DataFrame) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) between a predicted
    and a truth clustering — the chance-corrected pair-counting ER
    evaluation (complements pairwise F1, which has no chance floor,
    and B-cubed, which is doc-weighted).

    ``assign``: one row per doc — (doc_id, pred, truth) labels.

    With contingency counts n_pt, row sums n_p, column sums n_t and
    N docs, let idx = Σ C(n_pt,2), A = Σ C(n_p,2), B = Σ C(n_t,2),
    CN2 = C(N,2). Then

        ARI = (idx - A·B/CN2) / ((A+B)/2 - A·B/CN2).

    EVERYTHING except one final division is exact BIGINT arithmetic:
    the formula is cleared of inner divisions by multiplying through
    by 2·CN2 — num = 2·(idx·CN2 - A·B), den = (A+B)·CN2 - 2·A·B,
    ARI = round(num/den, 6) — so there is no float accumulation and no
    rounding interplay anywhere, and any engine reproduces the value
    bit-for-bit. (Magnitudes: idx·CN2 ≤ C(N,2)² — stays in BIGINT
    up to ~N = 3 × 10^4 per evaluation partition; evaluation sets are
    labeled samples, not the 10^12-doc corpus.)

    Scale shape: one groupBy(pred, truth) over the assignment (one row
    per contingency CELL after partial agg), two label-keyed
    aggregations for the marginals, three scalar sums. Degenerate
    single-cluster/all-singleton cases where den = 0 return ARI null.

    Output: 1 row — (n_docs, idx, a_sum, b_sum, ari).
    """
    cells = assign.groupBy("pred", "truth").agg(F.count("*").alias("n_pt"))
    c2 = lambda c: (F.col(c) * (F.col(c) - 1) / 2).cast("long")  # noqa: E731
    idx = cells.agg(F.sum(c2("n_pt")).alias("v")).collect()[0]["v"]
    a_sum = (
        cells.groupBy("pred")
        .agg(F.sum("n_pt").alias("n_p"))
        .agg(F.sum(c2("n_p")).alias("v"))
        .collect()[0]["v"]
    )
    b_sum = (
        cells.groupBy("truth")
        .agg(F.sum("n_pt").alias("n_t"))
        .agg(F.sum(c2("n_t")).alias("v"))
        .collect()[0]["v"]
    )
    n = assign.count()
    cn2 = n * (n - 1) // 2
    num = 2 * (idx * cn2 - a_sum * b_sum)
    den = (a_sum + b_sum) * cn2 - 2 * a_sum * b_sum
    ari = None
    if den != 0:
        x = num / den
        # C-style round-half-away (what SQL engines' round() does on
        # doubles), NOT Python's banker's rounding
        from .problink import _r6

        ari = _r6(x)
    spark = assign.sparkSession
    return spark.createDataFrame(
        [(n, int(idx), int(a_sum), int(b_sum), ari)],
        "n_docs long, idx long, a_sum long, b_sum long, ari double",
    )


def v_measure(assign: DataFrame) -> DataFrame:
    """V-measure clustering evaluation (Rosenberg & Hirschberg, EMNLP
    2007): homogeneity h = 1 - H(truth|pred)/H(truth), completeness
    c = 1 - H(pred|truth)/H(pred), v = their harmonic mean — the
    entropy-based complement to pairwise F1 / B-cubed / ARI.

    ``assign``: one row per doc — (doc_id, pred, truth) labels.

    Engine-replayable arithmetic (the bcubed recipe applied to
    entropies): every ln argument is an exact BIGINT ratio
    (n_cell/n_marginal or n_marginal/N), its ln is rounded to a micro
    int ONCE per cell/marginal, the entropy sums are exact BIGINT
    weighted sums, and each of h and c is ONE division of two exact
    integers, 6-dp half-away rounded; v is computed from the
    already-rounded h and c. Conventions (sklearn-compatible):
    H(truth) = 0 -> h = 1, H(pred) = 0 -> c = 1, h + c = 0 -> v = 0.

    Scale shape: one groupBy(pred, truth) cell aggregation, two
    marginal aggregations, four scalar sums — nothing doc-sized past
    the first aggregation.

    Output: 3 rows — (stat ∈ {homogeneity, completeness, v_measure},
    value).
    """
    from .problink import _r6

    cells = assign.groupBy("pred", "truth").agg(F.count("*").alias("n_pt"))
    n_p = cells.groupBy("pred").agg(F.sum("n_pt").alias("n_p"))
    n_t = cells.groupBy("truth").agg(F.sum("n_pt").alias("n_t"))
    n = assign.count()

    def micro_ln(num, den):
        return F.round(F.log(num.cast("double") / den.cast("double")) * 1e6).cast(
            "long"
        )

    # H(truth|pred): cells vs pred marginal; H(pred|truth): cells vs
    # truth marginal; H(truth)/H(pred): marginals vs N
    ctk = (
        cells.join(n_p, "pred")
        .agg(F.sum(F.col("n_pt") * micro_ln(F.col("n_pt"), F.col("n_p"))).alias("v"))
        .collect()[0]["v"]
    )
    ckt = (
        cells.join(n_t, "truth")
        .agg(F.sum(F.col("n_pt") * micro_ln(F.col("n_pt"), F.col("n_t"))).alias("v"))
        .collect()[0]["v"]
    )
    ht = n_t.agg(
        F.sum(F.col("n_t") * micro_ln(F.col("n_t"), F.lit(n))).alias("v")
    ).collect()[0]["v"]
    hp = n_p.agg(
        F.sum(F.col("n_p") * micro_ln(F.col("n_p"), F.lit(n))).alias("v")
    ).collect()[0]["v"]

    h = 1.0 if ht == 0 else _r6(1.0 - ctk / ht)
    c = 1.0 if hp == 0 else _r6(1.0 - ckt / hp)
    v = _r6(2 * h * c / (h + c)) if h + c else 0.0
    spark = assign.sparkSession
    return spark.createDataFrame(
        [("completeness", float(c)), ("homogeneity", float(h)), ("v_measure", float(v))],
        "stat string, value double",
    )
