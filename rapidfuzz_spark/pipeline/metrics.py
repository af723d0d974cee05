"""Evaluation metrics: a clustering or a blocking scheme against truth.

- pairwise_f1_vs_oracle: the BASELINE gate — on the SAME candidate pairs
  (same blocking key), compare the pipeline's match decisions against the
  reference-parity scalar oracle decisions (rapidfuzz_spark.api, itself
  locked to the reference's unit-test vectors). Target >= 0.99.
- cluster_pairwise_f1: pairwise P/R/F1 of predicted same-entity pairs vs
  truth.
- adjusted_rand_index: the chance-corrected pair-counting index (Hubert &
  Arabie 1985).
- bcubed: doc-weighted precision/recall/F (Bagga & Baldwin 1998).
- v_measure: entropy-based homogeneity/completeness/V (Rosenberg &
  Hirschberg 2007).
- blocking_quality: pair completeness, pairs quality and reduction ratio
  of a candidate pair set (Christen 2012).
- label_pairs / truth_sums: the truth labelling of candidate pairs and
  the truth's doc and same-entity pair counts, which blocking_quality
  and the threshold and blocking-scheme evaluations share.

The four clustering comparisons read exact integer sums from one
contingency table (``_contingency``): one cube aggregate whose rows are
the (pred, truth) cells with their doc counts n_pt, the cluster sizes
n_p and n_t, and the doc total N. Pairwise F1 and ARI sum it directly;
B-cubed and V-measure join each cell to its marginals (``_cells``). No
plan expands a cluster into its doc pairs, so the cost is linear in docs
however large the clusters are, and each metric is one Spark action
(V-measure: two). Everything is distributed joins/aggregations; only
scalars reach the driver.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from .. import api
from .problink import _r6


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


def _local_frame(spark, schema: str, rows: list) -> DataFrame:
    """``rows`` of driver-side numbers as a local relation: an inline
    VALUES table of typed literals (``schema`` is "name type, ..."), so
    collecting it runs no Spark job — ``createDataFrame(list)`` is
    RDD-backed and runs one. A float's repr round-trips exactly."""
    cols = [c.split() for c in schema.split(",")]

    def cell(v, t: str) -> str:
        return f"CAST({'NULL' if v is None else repr(str(v))} AS {t})"

    values = ", ".join(
        "(" + ", ".join(cell(v, t) for v, (_, t) in zip(r, cols)) + ")" for r in rows
    )
    names = ", ".join(n for n, _ in cols)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({names})")


def _contingency(assign: DataFrame) -> DataFrame:
    """(pred, truth, g, n): the contingency table of a (pred, truth)
    labelling, as one cube aggregate. g = grouping_id() marks the kind
    of row: 0 a cell (n = n_pt), 1 a predicted cluster (n = n_p; truth
    rolled up), 2 a truth cluster (n = n_t; pred rolled up), 3 the doc
    total N. Because g, not a NULL, marks a rolled-up label, a NULL label
    is a cluster like any other here; each metric says what it makes of
    one. Doc-level rows cross the wire once, after the map-side partial
    aggregate: at 10^12 docs everything downstream is one row per cell
    or cluster."""
    return assign.cube("pred", "truth").agg(
        F.grouping_id().alias("g"), F.count("*").alias("n")
    )


def _cells(assign: DataFrame) -> DataFrame:
    """(pred, truth, n_pt, n_p, n_t): each cell of ``_contingency``
    joined, null-safely on its labels, to its two marginals."""
    t = _contingency(assign)
    kind = lambda g, *cols: t.where(F.col("g") == g).select(*cols)  # noqa: E731
    n_p = kind(1, F.col("pred").alias("_p"), F.col("n").alias("n_p"))
    n_t = kind(2, F.col("truth").alias("_t"), F.col("n").alias("n_t"))
    return (
        kind(0, "pred", "truth", F.col("n").alias("n_pt"))
        .join(n_p, F.col("pred").eqNullSafe(F.col("_p")))
        .join(n_t, F.col("truth").eqNullSafe(F.col("_t")))
        .drop("_p", "_t")
    )


def _pair_sums(assign: DataFrame, null_is_label: bool) -> tuple:
    """(N, Σ C(n_pt,2), Σ C(n_p,2), Σ C(n_t,2)) of a (pred, truth)
    labelling: one exact BIGINT sum per kind of ``_contingency`` row, in
    one action. Unless ``null_is_label``, a NULL label adds no pair on
    its side (its docs are in no cluster there)."""

    def total(g: int, x, *labels: str):
        x = F.when(F.col("g") == g, x)
        for c in labels if not null_is_label else ():
            x = F.when(F.col(c).isNotNull(), x)
        return F.sum(x)

    c2 = F.expr("n * (n - 1) DIV 2")
    r = _contingency(assign).agg(
        total(3, F.col("n")),
        total(0, c2, "pred", "truth"),
        total(1, c2, "pred"),
        total(2, c2, "truth"),
    ).first()
    return tuple(v or 0 for v in r)


def cluster_pairwise_f1(predicted: DataFrame, truth: DataFrame) -> dict:
    """predicted/truth: (doc_id, entity_id), one row per doc. Pairwise
    P/R/F1 over same-cluster pairs: tp = Σ C(n_pt,2) over the docs in
    both tables, fp = Σ C(n_p,2) − tp and fn = Σ C(n_t,2) − tp, from the
    contingency table of the two labellings joined on doc_id (full outer:
    a doc missing from one table, or with a NULL entity_id there, is in
    no pair on that side)."""
    assign = predicted.select("doc_id", F.col("entity_id").alias("pred")).join(
        truth.select("doc_id", F.col("entity_id").alias("truth")), "doc_id", "full"
    )
    _, tp, n_p, n_t = _pair_sums(assign, null_is_label=False)
    fp, fn = n_p - tp, n_t - tp
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": prec, "recall": rec, "f1": f1}


def bcubed(assign: DataFrame) -> DataFrame:
    """B-cubed extrinsic clustering evaluation (Bagga & Baldwin 1998;
    the ER-standard alternative to pairwise F1 — it weights every DOC
    equally instead of every PAIR, so one giant over-merged cluster
    can't dominate the score the way it dominates pairwise counts).

    ``assign``: one row per doc — (doc_id, pred, truth) cluster labels.
    Docs with a NULL label are left out.

    Per doc d: precision(d) = |C_pred(d) ∩ C_truth(d)| / |C_pred(d)|
    and recall(d) symmetrically; B³P / B³R are the doc means, F their
    harmonic mean. Every doc of the intersection cell (p, t) has the
    SAME per-doc scores, so the doc sum collapses to a sum over cells:
    Σ_d prec(d) = Σ_{(p,t)} n_pt · n_pt / n_p — one scalar aggregate
    over the contingency table.

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

    def micro(n: str):
        return F.col("n_pt") * F.round(
            F.lit(1000000.0) * F.col("n_pt") / F.col(n)
        ).cast("long")

    row = (
        _cells(assign)
        .where(F.col("pred").isNotNull() & F.col("truth").isNotNull())
        .agg(
            F.sum("n_pt").alias("n"),
            F.sum(micro("n_p")).alias("p_sum"),
            F.sum(micro("n_t")).alias("r_sum"),
        )
        .first()
    )
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
    return _local_frame(
        assign.sparkSession,
        "stat string, value double",
        [("bcubed_f1", f1), ("bcubed_precision", prec), ("bcubed_recall", rec)],
    )


def label_pairs(pairs: DataFrame, truth: DataFrame) -> DataFrame:
    """``pairs`` (doc_id_1, doc_id_2, ...) plus ``is_true``: doc_id_1 <
    doc_id_2 and both docs carry the same non-NULL ``truth`` entity_id
    (truth: (doc_id, entity_id), one row per doc). A pair with a doc
    missing from ``truth`` is kept and is not true."""

    # one truth projection for both ends, so the second join reuses the
    # first one's exchange
    side = truth.select(F.col("doc_id").alias("_d"), F.col("entity_id").alias("_e"))

    def attach(df: DataFrame, i: int) -> DataFrame:
        on = F.col(f"doc_id_{i}") == F.col("_d")
        return df.join(side, on, "left").withColumnRenamed("_e", f"_e{i}").drop("_d")

    same = (F.col("_e1") == F.col("_e2")) & (F.col("doc_id_1") < F.col("doc_id_2"))
    return (
        attach(attach(pairs, 1), 2)
        .withColumn("is_true", F.coalesce(same, F.lit(False)))
        .drop("_e1", "_e2")
    )


def _entity_pairs(truth: DataFrame) -> DataFrame:
    """(n, c2) per entity of ``truth`` (doc_id, entity_id): its docs and
    its same-entity doc pairs C(n,2) (NULL for a NULL entity_id, which
    is in no pair)."""
    n = truth.groupBy("entity_id").agg(F.count("*").alias("n"))
    c2 = F.when(F.col("entity_id").isNotNull(), F.expr("n * (n - 1) DIV 2"))
    return n.select("n", c2.alias("c2"))


def truth_sums(truth: DataFrame) -> DataFrame:
    """One row (n_docs, true_pairs): the docs and the same-entity doc
    pairs of ``truth``, from its entity sizes."""
    return _entity_pairs(truth).agg(
        F.sum("n").alias("n_docs"), F.sum("c2").alias("true_pairs")
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
    ``truth``: (doc_id, entity_id) labels, one row per doc.

    All three are single IEEE divisions of exact counts, 6-dp
    half-away rounded — bit-reproducible. |true| comes from the truth's
    entity sizes and |cand ∩ true| from labelling each candidate with
    its two truth labels (``label_pairs``); one aggregate over both
    gives every count, with no pair expansion. At 10^12 docs C(n,2)
    overflows doubles' integer range but not Python ints (driver-side
    exact).

    Output: (stat, value double) rows — the three ratios plus the raw
    cand/true/tp counts.
    """
    cand = label_pairs(pairs.select("doc_id_1", "doc_id_2"), truth).select(
        F.lit(1).alias("cand"), F.col("is_true").cast("int").alias("tp")
    )
    rows = cand.unionByName(_entity_pairs(truth), allowMissingColumns=True)
    n_cand, n_tp, n_docs, n_true = (
        v or 0 for v in rows.agg(*(F.sum(c) for c in rows.columns)).first()
    )
    total = n_docs * (n_docs - 1) // 2
    pc = _r6(n_tp / n_true) if n_true else 1.0
    pq = _r6(n_tp / n_cand) if n_cand else 1.0
    rr = _r6(1 - n_cand / total) if total else 0.0
    return _local_frame(
        pairs.sparkSession,
        "stat string, value double",
        [
            ("cand_pairs", float(n_cand)),
            ("pair_completeness", pc),
            ("pairs_quality", pq),
            ("reduction_ratio", rr),
            ("tp_pairs", float(n_tp)),
            ("true_pairs", float(n_true)),
        ],
    )


def adjusted_rand_index(assign: DataFrame) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) between a predicted
    and a truth clustering — the chance-corrected pair-counting ER
    evaluation (complements pairwise F1, which has no chance floor,
    and B-cubed, which is doc-weighted).

    ``assign``: one row per doc — (doc_id, pred, truth) labels; a NULL
    label is one more cluster.

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

    All four sums come from one aggregate over the contingency table.
    Degenerate single-cluster/all-singleton cases where den = 0 return
    ARI null.

    Output: 1 row — (n_docs, idx, a_sum, b_sum, ari).
    """
    n, idx, a_sum, b_sum = _pair_sums(assign, null_is_label=True)
    cn2 = n * (n - 1) // 2
    num = 2 * (idx * cn2 - a_sum * b_sum)
    den = (a_sum + b_sum) * cn2 - 2 * a_sum * b_sum
    # C-style round-half-away (what SQL engines' round() does on
    # doubles), NOT Python's banker's rounding
    ari = _r6(num / den) if den != 0 else None
    return _local_frame(
        assign.sparkSession,
        "n_docs long, idx long, a_sum long, b_sum long, ari double",
        [(n, idx, a_sum, b_sum, ari)],
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

    Scale shape: two aggregates over the contingency table — N, then
    the four entropy sums. A marginal's term n_t·ln(n_t/N) is summed as
    its cells' n_pt·ln(n_t/N): the same micro int per cell, so the same
    exact total.

    Output: 3 rows — (stat ∈ {homogeneity, completeness, v_measure},
    value).
    """
    total = _contingency(assign).where(F.col("g") == 3).first()
    n = F.lit(total["n"] if total else 0)
    table = _cells(assign)

    def h_sum(num, den, label: str | None = None):
        x = F.col("n_pt") * F.round(
            F.log(F.col(num).cast("double") / den.cast("double")) * 1e6
        ).cast("long")
        return F.sum(F.when(F.col(label).isNotNull(), x) if label else x)

    # H(truth|pred): cells vs pred marginal; H(pred|truth): cells vs
    # truth marginal; H(truth)/H(pred): marginals vs N
    ctk, ckt, ht, hp = (
        v or 0
        for v in table.agg(
            h_sum("n_pt", F.col("n_p"), "pred"),
            h_sum("n_pt", F.col("n_t"), "truth"),
            h_sum("n_t", n),
            h_sum("n_p", n),
        ).first()
    )
    h = 1.0 if ht == 0 else _r6(1.0 - ctk / ht)
    c = 1.0 if hp == 0 else _r6(1.0 - ckt / hp)
    v = _r6(2 * h * c / (h + c)) if h + c else 0.0
    return _local_frame(
        assign.sparkSession,
        "stat string, value double",
        [("completeness", c), ("homogeneity", h), ("v_measure", v)],
    )
