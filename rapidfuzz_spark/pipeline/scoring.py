"""Pair scoring with resumable per-bucket checkpointing.

Pairs are assigned to one of ``n_buckets`` deterministic buckets
(xxhash64 of the pair ids — stable across runs and parallelism levels).
Scored edges land in a parquet ledger partitioned by bucket
(``{out_dir}/edges/bucket=N``); a bucket manifest row is appended to
``{out_dir}/ledger`` only after its edges are committed.

Resume: a rerun reads the ledger, anti-joins completed buckets, and scores
only the remainder — interrupted runs never rescore completed blocks
(north_rule requirement). Parquet task commits are atomic per partition, so
a bucket is either fully present+manifested or re-done.
"""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import rapidfuzz_spark.functions as RF

# Metrics whose normalized similarity obeys the indel-family length
# bound (1 - |Δlen|/(len1+len2) caps the score), making the cheap
# length-difference prefilter EXACT. This single constant feeds the
# post-attach prefilter below AND the join-level pre-dedup prunes in
# run_pipeline / incremental — the join-level prune is only safe while
# it targets a subset of the metrics prefiltered here, so all three
# sites must read the same set.
PRUNABLE_METRICS = ("ratio", "indel", "levenshtein", "lcs_seq")

SCORERS = {
    "ratio": RF.ratio,
    "levenshtein": RF.levenshtein_normalized_similarity,
    "indel": RF.indel_normalized_similarity,
    "lcs_seq": RF.lcs_seq_normalized_similarity,
    "osa": RF.osa_normalized_similarity,
    "damerau_levenshtein": RF.damerau_levenshtein_normalized_similarity,
    "jaro": RF.jaro_similarity,
    "jaro_winkler": RF.jaro_winkler_similarity,
}


def attach_texts(
    pairs: DataFrame, docs: DataFrame, broadcast_docs: bool = False
) -> DataFrame:
    """(doc_id_1, doc_id_2) -> + (text_N = canonical token-sorted,
    raw_N = normalized unsorted, len_N). Token sorting preserves length,
    so one length pair serves both scoring passes. If the docs carry
    token/IDF arrays (softtfidf.attach_token_idf), those ride along as
    toks_N / idfs_N.

    ``broadcast_docs``: broadcast the skinny text projection into BOTH
    attach joins — the pair stream (orders of magnitude larger than the
    doc table whenever blocking produces >1 candidate per doc) then flows
    map-side with ZERO shuffles instead of being exchanged twice. Only
    sound when the doc projection fits executor memory; run_pipeline
    gates it on projected bytes — at 10^12 docs it stays a shuffle
    join, which scales with cluster size.

    The column renames sit ABOVE the joins (select with aliases), not
    below them, so both joins' build sides are the SAME canonical plan
    and Spark's ReuseExchange materializes the broadcast ONCE — renaming
    first would put distinct Projects under each BroadcastExchange and
    double the broadcast build/memory."""
    extra = [c for c in ("toks", "idfs") if c in docs.columns]
    t = docs.select(
        "doc_id",
        F.col("canon_text").alias("text"),
        F.col("norm_text").alias("raw"),
        *extra,
    )
    if broadcast_docs:
        t = F.broadcast(t)
    ta, tb = t.alias("_att1"), t.alias("_att2")
    side_cols = ["text", "raw", *extra]
    return (
        pairs.join(ta, F.col("doc_id_1") == F.col("_att1.doc_id"))
        .join(tb, F.col("doc_id_2") == F.col("_att2.doc_id"))
        .select(
            pairs["*"],
            *[F.col(f"_att1.{c}").alias(f"{c}_1") for c in side_cols],
            *[F.col(f"_att2.{c}").alias(f"{c}_2") for c in side_cols],
        )
        .withColumn("len_1", F.length("text_1"))
        .withColumn("len_2", F.length("text_2"))
    )


def _check_threshold(threshold: float) -> None:
    """Every scorer ``score_pairs`` routes to is a similarity in [0, 1];
    a threshold outside it (say rapidfuzz-Python's 0-100 scale) would
    silently give no edges and every doc its own entity."""
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(
            f"threshold must be a similarity in [0, 1], got {threshold!r}"
        )


def score_pairs(
    pairs_with_text: DataFrame,
    metric: str = "ratio",
    threshold: float = 0.85,
) -> DataFrame:
    """UDF scoring with the reference's length-difference pruning
    (levenshtein.rs:1045-1047) hoisted into a cheap Catalyst pre-filter
    *before* the Arrow exchange: |len1-len2| bounds indel-family
    normalized similarity by 1 - |Δlen|/(len1+len2) >= t.

    When the pairs carry ``raw_1``/``raw_2`` (attach_texts), score =
    greatest(metric on canonical token-sorted text, metric on unsorted
    normalized text) — catches token reorders (canon pass) and
    token-resorting first-char typos (raw pass)."""
    _check_threshold(threshold)
    df = pairs_with_text
    if "len_1" not in df.columns or "len_2" not in df.columns:
        # callers that attach texts themselves may not carry length
        # columns; compute them (F.length is free) rather than silently
        # losing the both-empty guard below
        df = df.withColumn("len_1", F.length("text_1")).withColumn(
            "len_2", F.length("text_2")
        )
    # no text evidence -> no text-similarity edge: ratio("","") is 1.0
    # by kernel definition (both-empty = identical), so without this
    # guard every pair of text-less docs (media-only spans,
    # punctuation-only text) scores 1.0 and transitive clustering
    # collapses ALL of them into one entity
    df = df.where((F.col("len_1") > 0) | (F.col("len_2") > 0))
    if metric == "soft_tfidf":
        # IDF-weighted fuzzy-token cosine (textops.softtfidf): token-set
        # based, so reorders need no canon pass and no length prefilter
        from ..textops import softtfidf as ST

        score = ST.soft_tfidf_similarity("toks_1", "idfs_1", "toks_2", "idfs_2")
        return (
            df.withColumn("score", score)
            .where(F.col("score") >= threshold)
            .select("doc_id_1", "doc_id_2", "score")
        )
    if metric == "soft_tfidf_jw":
        # precision-gated hybrid (F1-swept at 50k entities, BENCH.md §6):
        # accept iff st >= threshold AND (st >= st_high OR jw >= jw_gate).
        # Mid-band soft-tfidf scores must be corroborated by a whole-string
        # Jaro-Winkler pass. With deletion-sig blocking (recall 1.0) the
        # sweep peak is threshold 0.76 / gates (0.82, 0.87): F1 0.99837
        # on the shipped DF-prefiltered candidates (0.99846 unfiltered)
        # vs 0.99732 for the previous 0.74/(0.80, 0.85) — tighter gates
        # lose more recall than they gain precision (BENCH.md §6b).
        from ..textops import softtfidf as ST

        st_high, jw_gate = 0.82, 0.87
        st = ST.soft_tfidf_similarity("toks_1", "idfs_1", "toks_2", "idfs_2")
        jw = RF.jaro_winkler_similarity("text_1", "text_2")
        if "raw_1" in df.columns:
            jw = F.greatest(jw, RF.jaro_winkler_similarity("raw_1", "raw_2"))
        return (
            df.withColumn("score", st)
            .where(F.col("score") >= threshold)
            .withColumn("jw", jw)
            .where((F.col("score") >= st_high) | (F.col("jw") >= jw_gate))
            .select("doc_id_1", "doc_id_2", "score")
        )
    if metric in PRUNABLE_METRICS:
        # 1 - |l1-l2|/(l1+l2) >= t  <=>  |l1-l2| <= (1-t)*(l1+l2)
        df = df.where(
            F.abs(F.col("len_1") - F.col("len_2"))
            <= (1.0 - threshold) * (F.col("len_1") + F.col("len_2"))
        )
    scorer = SCORERS[metric]
    score = scorer("text_1", "text_2", score_cutoff=threshold)
    if "raw_1" in df.columns:
        score = F.greatest(
            score, scorer("raw_1", "raw_2", score_cutoff=threshold)
        )
    return (
        df.withColumn("score", score)
        .where(F.col("score").isNotNull())
        .select("doc_id_1", "doc_id_2", "score")
    )


def _done_buckets(
    spark: SparkSession, out_dir: str, metric: str, threshold: float
) -> set:
    """Buckets already manifested FOR THIS CONFIGURATION. run_id is
    provenance (resuming an interrupted run under a new run_id is the
    intended flow), but a ledger row with a different metric or
    threshold means the out_dir holds a DIFFERENT JOB's edges — treating
    its buckets as done would silently return (or mix in) that job's
    results, so fail loudly instead."""
    ledger_path = os.path.join(out_dir, "ledger")
    try:
        rows = (
            spark.read.parquet(ledger_path)
            .select("bucket", "metric", "threshold")
            .distinct()
            .collect()
        )
    except AnalysisException as e:
        # only a missing ledger means "nothing done yet": an unreadable
        # one must not send the run back over buckets already scored
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return set()
    stale = [
        r
        for r in rows
        if r.metric != metric or abs(r.threshold - threshold) > 1e-12
    ]
    if stale:
        s = stale[0]
        raise ValueError(
            f"checkpoint ledger at {ledger_path} was written by a different "
            f"job (metric={s.metric!r}, threshold={s.threshold}) than the "
            f"current one (metric={metric!r}, threshold={threshold}); "
            "resume only continues an interrupted run of the SAME job — "
            "use a fresh out_dir (or the matching parameters)"
        )
    return {r.bucket for r in rows}


def score_with_checkpoint(
    spark: SparkSession,
    pairs_with_text: DataFrame,
    out_dir: str,
    metric: str = "ratio",
    threshold: float = 0.85,
    n_buckets: int = 16,
    run_id: str = "run0",
    fail_after_buckets: Optional[int] = None,
) -> DataFrame:
    """Score in resumable bucket batches; returns the complete edge set.

    ``fail_after_buckets`` simulates an interrupt after N buckets (tests).
    """
    bucketed = pairs_with_text.withColumn(
        # pmod, not abs(x) % n: abs(Long.MIN_VALUE) overflows negative in
        # Spark SQL and % keeps the dividend's sign — a 2^-64 pair would
        # land in a bucket no one scores
        "bucket",
        F.pmod(F.xxhash64("doc_id_1", "doc_id_2"), F.lit(n_buckets)).cast("int"),
    )
    done = _done_buckets(spark, out_dir, metric, threshold)
    pending = [b for b in range(n_buckets) if b not in done]
    edges_path = os.path.join(out_dir, "edges")
    ledger_path = os.path.join(out_dir, "ledger")
    # materialize the score input once, not per bucket-filter branch.
    # persist (not localCheckpoint): survives executor loss by recompute,
    # spills past memory, and behaves under dynamic allocation — the same
    # trade chosen for the blocking-key cache
    from pyspark.storagelevel import StorageLevel

    bucketed = bucketed.persist(StorageLevel.MEMORY_AND_DISK)
    bucketed.count()
    import threading

    ledger_lock = threading.Lock()

    def _run_bucket(b: int) -> None:
        t0 = time.time()
        chunk = bucketed.where(F.col("bucket") == b)
        edges = score_pairs(chunk, metric=metric, threshold=threshold)
        n_in = chunk.count()
        # each bucket owns its partition DIRECTORY (bucket=N), so
        # concurrent bucket jobs never share a _temporary staging root,
        # and a half-written bucket is cleanly overwritten on resume
        bucket_path = os.path.join(edges_path, f"bucket={b}")
        edges.write.mode("overwrite").parquet(bucket_path)
        n_out = spark.read.parquet(bucket_path).count()
        # manifest row written only after edges are durable -> atomic
        # resume; serialized under a lock because concurrent appends to one
        # parquet root share a _temporary staging dir (tiny write, no cost)
        with ledger_lock:
            spark.createDataFrame(
                [
                    (
                        b,
                        run_id,
                        metric,
                        float(threshold),
                        n_in,
                        n_out,
                        time.time() - t0,
                    )
                ],
                "bucket int, run_id string, metric string, threshold double,"
                " n_pairs long, n_edges long, wall_sec double",
            ).write.mode("append").parquet(ledger_path)

    try:
        if fail_after_buckets is not None:
            # deterministic sequential order for interrupt simulation in tests
            for b in pending[:fail_after_buckets]:
                _run_bucket(b)
        elif pending:
            # concurrent job submission: bucket jobs are independent (disjoint
            # partitions of both input and output), so overlapping them hides
            # per-job scheduling latency — at 100x scale a sequential loop
            # serializes 3 actions per bucket on the driver
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(4, len(pending))) as pool:
                list(pool.map(_run_bucket, pending))
    finally:
        # unpersist even when a bucket job dies: a same-session resume
        # re-persists its own copy, and leaking this one would pin the
        # full scoring input for the rest of the session
        bucketed.unpersist()
    return spark.read.parquet(edges_path).select("doc_id_1", "doc_id_2", "score")
