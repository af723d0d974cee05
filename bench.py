"""Headline benchmark: blocking + vectorized pairwise scoring + top-k +
full ER pipeline, timed at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "scored_pairs_per_sec": ...}

The scored-pairs/sec figure is the north-rule throughput metric
(BASELINE.json): pairs scored by the jaro-winkler + levenshtein +
ratio-cutoff stages divided by their wall time. Run with
SPARK_GRAFT_CPUS=8 and =32 on the same input for the N-vs-4N scaling
evidence recorded in BENCH.md / BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

import rapidfuzz_spark.functions as RF
from rapidfuzz_spark.pipeline import run as P
from rapidfuzz_spark.pipeline import synth

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def pairs(spark):
    # explicit repartition of the (small) scan: the self-join inherits it,
    # so the downstream Arrow-UDF scoring stage actually fans out over all
    # cores — a 1-file local parquet scan is 1 partition otherwise. An
    # explicit N is deliberate: AQE would coalesce an un-numbered shuffle
    # back down below the core count (Python UDF stages want cores, not
    # 64MB partitions).
    d = docs(spark).select("doc_id", "text", "lang", "n_chars").repartition(CPUS)
    a, b = d.alias("a"), d.alias("b")
    return a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.floor(F.col("a.n_chars") / 50) == F.floor(F.col("b.n_chars") / 50))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_1"),
        F.col("b.doc_id").alias("id_2"),
        F.col("a.text").alias("t1"),
        F.col("b.text").alias("t2"),
    )


def q_block_salted(spark):
    """Token blocking with hot-key census + salting (shuffle-heavy stage)."""
    from rapidfuzz_spark.pipeline import blocking

    d = docs(spark).withColumn("norm_text", F.col("text")).repartition(CPUS)
    keys = blocking.token_keys(d)
    # drop_cap culls stopword-grade tokens (this corpus has a tiny
    # vocabulary, so most tokens are stopword-grade) — the census +
    # salting machinery still runs over what remains
    return blocking.candidate_pairs(keys, hot_cap=200, drop_cap=1500).count()


def q_score_jw(spark):
    p = pairs(spark)
    return p.select(RF.jaro_winkler_similarity("t1", "t2").alias("s")).agg(
        F.count("s"), F.sum("s")
    ).collect()[0][0]


def q_score_lev(spark):
    p = pairs(spark)
    return p.select(RF.levenshtein_distance("t1", "t2").alias("d")).agg(
        F.count("d"), F.sum("d")
    ).collect()[0][0]


def q_ratio_cutoff(spark):
    p = pairs(spark)
    return (
        p.select(RF.ratio("t1", "t2", score_cutoff=0.55).alias("s"))
        .where(F.col("s").isNotNull())
        .count()
    )


def q_lev_cutoff(spark):
    """Cutoff levenshtein on long texts — exercises the blockwise Myers
    kernel cut at the bound (distance bound 40 on ~300-char pairs)."""
    p = pairs(spark)
    return (
        p.select(RF.levenshtein_distance("t1", "t2", score_cutoff=40).alias("d"))
        .where(F.col("d").isNotNull())
        .count()
    )


def q_jw_topk(spark):
    p = pairs(spark)
    scored = p.withColumn("score", RF.jaro_winkler_similarity("t1", "t2"))
    w = Window.partitionBy("id_1").orderBy(F.desc("score"), "id_2")
    return (
        scored.withColumn("r", F.row_number().over(w)).where(F.col("r") <= 3).count()
    )


def synth_corpus(spark):
    """Materialize the synthesized interleaved corpus (scaled to the sf's
    document count) BEFORE the pipeline clock starts — the same
    input-outside-the-clock policy as the scaling workloads of
    tools/harness.py, so pipeline_e2e measures the pipeline, not the
    test-data generator."""
    from pyspark.storagelevel import StorageLevel

    n_docs = docs(spark).count()
    corpus = (
        synth.synth_documents(spark, n_entities=max(500, n_docs), seed=42)
        .drop("entity_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    corpus.count()
    return corpus


def q_pipeline_e2e(spark, corpus, tmp_dir):
    """Full ER pipeline over the pre-materialized corpus:
    ingest -> blocking (salted) -> dual-pass scoring -> CC clustering."""
    # tested config (tests/test_pipeline.py): ratio @ 0.85; drop_cap culls
    # stopword-grade blocking tokens (shared first/last names) whose blocks
    # grow O(corpus) — the pair count stays O(docs x cluster_size) instead
    # of O(docs^2 / vocabulary)
    conf = P.PipelineConfig(
        metric="ratio", threshold=0.85, drop_cap=500, checkpoint=False
    )
    ents = P.run_pipeline(spark, corpus, tmp_dir, conf)
    return ents.select(F.countDistinct("entity_id")).collect()[0][0]


def main() -> None:
    import shutil
    import tempfile

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("rapidfuzz-spark-bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_pairs = pairs(spark).count()  # warm up JVM + parquet footer cache

    times: dict[str, float] = {}
    trials: dict[str, list] = {}
    # shared-host noise on this sandbox is +/-10%..3x between identical
    # runs (BENCH.md §1: hypervisor CPU-steal phases hit multi-process
    # walls while single-thread kernel throughput is unchanged) — report
    # the per-query minimum over N trials, raw trials recorded alongside.
    # min-of-3 is the shipped default (round-4 verdict: 2 trials left the
    # suite number inside the same-code noise band; 3 pins the floor)
    n_trials = max(1, int(os.environ.get("SPARK_GRAFT_TRIALS", "3")))

    def timed(name, fn, *a, repeats=n_trials):
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn(spark, *a)
            walls.append(round(time.perf_counter() - t0, 3))
        trials[name] = walls
        times[name] = min(walls)

    timed("block_salted", q_block_salted)
    timed("score_jw", q_score_jw)
    timed("score_lev", q_score_lev)
    timed("ratio_cutoff", q_ratio_cutoff)
    timed("lev_cutoff", q_lev_cutoff)
    timed("jw_topk", q_jw_topk)
    tmp = tempfile.mkdtemp(prefix="rf_bench_")
    t_synth = time.perf_counter()
    corpus = synth_corpus(spark)
    synth_sec = round(time.perf_counter() - t_synth, 3)
    try:
        timed("pipeline_e2e", q_pipeline_e2e, corpus, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        corpus.unpersist()

    score_sec = (
        times["score_jw"]
        + times["score_lev"]
        + times["ratio_cutoff"]
        + times["lev_cutoff"]
    )
    pps = round(4 * n_pairs / score_sec, 1) if score_sec > 0 else 0.0
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_suite_wall_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "n_pairs": n_pairs,
        "scored_pairs_per_sec": pps,
        "synth_sec": synth_sec,
        "trials": trials,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
