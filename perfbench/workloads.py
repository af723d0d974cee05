"""The benchmark's workloads.

Each workload materializes its input off the clock (``prepare``), runs
``warm_ups`` untimed warm-up jobs (``warm_up``, then ``job``), then repeats
``job`` (at least ``min_jobs`` times);
``check`` verifies every job's output and returns the problems found.
``traced`` runs one more job with spans around each layer and returns the
per-layer metrics.

- ``score_long``: four Column passes over long-text pairs. Bound by the
  kernels and the Arrow UDF boundary; no blocking, no clustering.
- ``er_batch``: ``run_pipeline`` without checkpointing over a small
  synthetic ER corpus. At this size the fixed cost of its ~50 short Spark
  jobs (blocking, exchanges, connected components) dominates.
- ``er_resumable``: the same corpus and config with the checkpoint ledger
  (the spark-submit default): per-bucket edge writes, ledger appends and
  their extra count actions on top of ``er_batch``'s work.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.storagelevel import StorageLevel

import rapidfuzz_spark.functions as RF
from rapidfuzz_spark import api
from rapidfuzz_spark.kernels import batch as B
from rapidfuzz_spark.pipeline import blocking, cluster, ingest, metrics, scoring, synth
from rapidfuzz_spark.pipeline import run as P

from . import spans as T

HERE = os.path.dirname(os.path.abspath(__file__))
DOCS = os.path.join(HERE, "data", "documents.parquet")
CHECKSUMS = os.path.join(HERE, "checksums.json")
CORES = 4
MB = 1 << 20

# score_long: (pass name, Column factory, result kind, kernel behind it)
RATIO_CUTOFF = 0.55
LEV_CUTOFF = 40
PASSES = (
    ("jaro_winkler_similarity", lambda: RF.jaro_winkler_similarity("t1", "t2"), "sum"),
    ("levenshtein_distance", lambda: RF.levenshtein_distance("t1", "t2"), "sum"),
    ("ratio_c055", lambda: RF.ratio("t1", "t2", score_cutoff=RATIO_CUTOFF), "kept"),
    (
        "levenshtein_distance_c40",
        lambda: RF.levenshtein_distance("t1", "t2", score_cutoff=LEV_CUTOFF),
        "kept",
    ),
)
PASS_KERNEL = {
    "jaro_winkler_similarity": "jaro_winkler_batch",
    "levenshtein_distance": "levenshtein_batch",
    "ratio_c055": "indel_batch",
    "levenshtein_distance_c40": "levenshtein_batch_k41",
}
ORACLE_SAMPLE = 256  # seeded pairs checked against the scalar API each job
JW_REL_TOL = 1e-6

# er_*: the tested pipeline config (tests/test_pipeline.py, bench.py) over
# a fixed corpus. Its seed is pinned rather than taken from --seed: at this
# size the number of connected-component rounds (2 or 3) depends on the
# corpus seed and moves job_s by ~17%, which would swamp the run-to-run
# spread the bounds are set from.
ER_ENTITIES = 500
ER_CORPUS_SEED = 42
ER_THRESHOLD = 0.85
ER_BUCKETS = 16
# the pinned corpus scores 0.9914, the same on every run
MIN_PAIRWISE_F1 = 0.99

ER_SPANS = ("ingest", "blocking", "scoring.attach", "scoring", "cluster.cc", "cluster.assign")
FUNCTION_SPANS = tuple(f"functions.{p[0]}" for p in PASSES) + ("functions.null_udf",)
SPAN_NAMES = ER_SPANS + FUNCTION_SPANS


def _span(tracer):
    return tracer.span if tracer is not None else (lambda name: contextlib.nullcontext())


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


def per_layer(jobs: dict, layer: dict, untraced_job_s: float) -> dict:
    """Every per-layer metric: the workload's own figures, the Spark task
    figures of each span (``jobs``, by span name), and zero for a layer
    this workload does not exercise."""
    out = empty_per_layer()
    none = T.JobStats()
    for name in SPAN_NAMES:
        st = jobs.get(name, none)
        out[f"{name}.tasks"] = st.tasks
        out[f"{name}.failed_tasks"] = st.failed_tasks
        out[f"{name}.executor_run_s"] = st.executor_run_s
    for name in ("blocking", "scoring", "cluster.cc"):
        out[f"{name}.spark_jobs"] = jobs.get(name, none).jobs
    for name, spans in (
        ("blocking", ("blocking",)),
        ("scoring", ("scoring",)),
        ("cluster", ("cluster.cc", "cluster.assign")),
    ):
        out[f"{name}.shuffle_write_mb"] = sum(
            jobs.get(s, none).shuffle_write_mb for s in spans
        )
    out.update(layer)
    out["trace.overhead_s"] = out["trace.job_s"] - untraced_job_s
    return out


def empty_per_layer() -> dict:
    """Every per-layer metric, at zero; each workload fills its own."""
    out = {
        f"kernels.{k}.long.pairs_per_s": 0.0 for k in sorted(set(PASS_KERNEL.values()))
    }
    out["kernels.indel_batch.short.pairs_per_s"] = 0.0
    for name, _, _ in PASSES:
        out[f"functions.{name}.s"] = 0.0
        out[f"functions.{name}.parallel_eff"] = 0.0
    out.update(
        {
            "functions.null_udf.s": 0.0,
            "functions.boundary_share": 0.0,
            "functions.parallel_eff": 0.0,
            "ingest.s": 0.0,
            "ingest.rows_out": 0,
            "blocking.s": 0.0,
            "blocking.key_rows": 0,
            "blocking.candidate_pairs": 0,
            "blocking.pairs_per_doc": 0.0,
            "blocking.pair_completeness": 0.0,
            "blocking.pairs_quality": 0.0,
            "blocking.shuffle_write_mb": 0.0,
            "blocking.spark_jobs": 0,
            "scoring.attach.s": 0.0,
            "scoring.s": 0.0,
            "scoring.pairs_in": 0,
            "scoring.edges": 0,
            "scoring.edge_yield": 0.0,
            "scoring.spark_jobs": 0,
            "scoring.shuffle_write_mb": 0.0,
            "scoring.ledger_mb": 0.0,
            "cluster.cc.s": 0.0,
            "cluster.cc.spark_jobs": 0,
            "cluster.components": 0,
            "cluster.assign.s": 0.0,
            "cluster.shuffle_write_mb": 0.0,
            "trace.job_s": 0.0,
            "trace.overhead_s": 0.0,
            "trace.unattributed_s": 0.0,
        }
    )
    for name in SPAN_NAMES:
        out[f"{name}.tasks"] = 0
        out[f"{name}.failed_tasks"] = 0
        out[f"{name}.executor_run_s"] = 0.0
    return out


class ScoreLong:
    """314,594 blocked long-text pairs from the sf0.1 documents (5,000 docs,
    ~297 chars, a self-join on lang and 50-char length band); one job
    scores the fixed 1/``subset_mod`` share with (id_1 + id_2) divisible
    by ``subset_mod``, whose checksums ``pin_checksums.py`` reproduces."""

    name = "score_long"
    warm_ups = 1  # untimed jobs in set-up, the first by warm_up()
    min_jobs = 2  # fewest timed jobs a run makes, however short --seconds is

    def __init__(self, spark: SparkSession, seed: int, work: str) -> None:
        self.spark = spark
        with open(CHECKSUMS) as f:
            pinned = json.load(f)
        self.mod = pinned["subset_mod"]
        self.sums = pinned["subset"]
        docs = pq.read_table(DOCS).to_pandas()
        self.text = dict(zip(docs.doc_id.tolist(), docs.text.tolist()))
        ids = self._pair_ids(docs)
        if len(ids) != self.sums["pairs"]:
            raise RuntimeError(
                f"driver-side pair recipe gives {len(ids)} pairs, "
                f"checksums.json pins {self.sums['pairs']}"
            )
        self.ids = ids
        self.rng = np.random.default_rng(seed)
        pick = self.rng.choice(len(ids), ORACLE_SAMPLE, replace=False)
        self.oracle = {}
        for i1, i2 in ids[pick].tolist():
            t1, t2 = self.text[i1], self.text[i2]
            self.oracle[(i1, i2)] = (
                api.fuzz.ratio(t1, t2),
                api.levenshtein.distance(t1, t2),
            )
        self.pairs = None
        self.f1 = None

    def _pair_ids(self, docs) -> np.ndarray:
        d = docs[["doc_id", "lang", "n_chars"]].assign(band=docs.n_chars // 50)
        m = d.merge(d, on=["lang", "band"], suffixes=("_1", "_2"))
        m = m[(m.doc_id_1 < m.doc_id_2) & ((m.doc_id_1 + m.doc_id_2) % self.mod == 0)]
        return m[["doc_id_1", "doc_id_2"]].to_numpy()

    def prepare(self) -> None:
        if self.pairs is not None:
            self.pairs.unpersist(blocking=True)
        # the bench.py pairs() recipe, then the pinned subset; one partition
        # per core so the Arrow stage fans out over all of them
        d = (
            self.spark.read.parquet(DOCS)
            .select("doc_id", "text", "lang", "n_chars")
            .repartition(CORES)
        )
        a, b = d.alias("a"), d.alias("b")
        p = a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.floor(F.col("a.n_chars") / 50) == F.floor(F.col("b.n_chars") / 50))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).where((F.col("a.doc_id") + F.col("b.doc_id")) % self.mod == 0)
        self.pairs = (
            p.select(
                F.col("a.doc_id").alias("id_1"),
                F.col("b.doc_id").alias("id_2"),
                F.col("a.text").alias("t1"),
                F.col("b.text").alias("t2"),
            )
            .repartition(CORES)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self.pairs.count()

    def warm_up(self) -> dict:
        return self.job()

    def check_warm_up(self, res: dict) -> list:
        return self.check(res)

    def job(self, tracer=None) -> dict:
        span = _span(tracer)
        res = {}
        for name, make, kind in PASSES:
            col = make().alias("s")
            with span(f"functions.{name}"):
                if kind == "sum":
                    r = self.pairs.select(col).agg(F.count("s"), F.sum("s")).first()
                    res[name] = (r[0], r[1])
                else:
                    rows = (
                        self.pairs.select("id_1", "id_2", col)
                        .where(F.col("s").isNotNull())
                        .collect()
                    )
                    res[name] = {(r.id_1, r.id_2): r.s for r in rows}
        return res

    def check(self, res: dict) -> list:
        s, bad = self.sums, []
        n, jw = res["jaro_winkler_similarity"]
        if n != s["pairs"] or not math.isclose(jw, s["jw_sum"], rel_tol=JW_REL_TOL):
            bad.append(f"jaro_winkler: {n} pairs, sum {jw!r}")
        n, lev = res["levenshtein_distance"]
        if n != s["pairs"] or lev != s["lev_sum"]:
            bad.append(f"levenshtein: {n} pairs, sum {lev}")
        ratio = res["ratio_c055"]
        if len(ratio) != s["ratio055_kept"] or not math.isclose(
            sum(ratio.values()), s["ratio055_sum"], rel_tol=JW_REL_TOL
        ):
            bad.append(f"ratio>={RATIO_CUTOFF}: {len(ratio)} kept")
        lev40 = res["levenshtein_distance_c40"]
        if len(lev40) != s["lev40_kept"] or sum(lev40.values()) != s["lev40_sum"]:
            bad.append(f"levenshtein<={LEV_CUTOFF}: {len(lev40)} kept")
        # every kept row, and the seeded sample's decisions, against the
        # scalar API (the package's non-batch, non-Spark path)
        tp = fp = fn = 0
        for (i1, i2), score in ratio.items():
            ref = api.fuzz.ratio(self.text[i1], self.text[i2])
            if abs(ref - score) > 1e-9 or ref < RATIO_CUTOFF:
                fp += 1
                bad.append(f"ratio({i1},{i2}) = {score}, scalar {ref}")
            else:
                tp += 1
        for (i1, i2), d in lev40.items():
            ref = api.levenshtein.distance(self.text[i1], self.text[i2])
            if ref != d:
                bad.append(f"levenshtein({i1},{i2}) = {d}, scalar {ref}")
        for key, (r, d) in self.oracle.items():
            if r >= RATIO_CUTOFF and key not in ratio:
                fn += 1
                bad.append(f"ratio{key} = {r} not kept")
            if (d <= LEV_CUTOFF) != (key in lev40):
                bad.append(f"levenshtein{key} = {d}, kept={key in lev40}")
        f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0
        self.f1 = f1 if self.f1 is None else min(self.f1, f1)
        return bad

    def end_to_end(self, job_s: float) -> dict:
        return {
            "scored_pairs_per_s": len(PASSES) * self.sums["pairs"] / job_s,
            "pairwise_f1": self.f1,
        }

    def traced(self, tracer: T.Tracer) -> tuple:
        """One traced job, then the kernel and null-UDF probes."""
        with tracer.span("job") as root:
            res = self.job(tracer)
        problems = self.check(res)
        out = {"trace.job_s": root.dur}
        # kernels: single-thread driver calls on a seeded sample of one
        # Arrow batch's size (the UDF sees one batch per partition)
        n = len(self.ids)
        batch = min(n // CORES, 10_000)
        pick = self.rng.choice(n, batch, replace=False)
        a = np.array([self.text[i] for i in self.ids[pick, 0].tolist()], dtype=object)
        b = np.array([self.text[i] for i in self.ids[pick, 1].tolist()], dtype=object)
        la = np.fromiter(map(len, a), np.int64, batch)
        lb = np.fromiter(map(len, b), np.int64, batch)
        k_ratio = np.floor((la + lb) * (1.0 - RATIO_CUTOFF)).astype(np.int64) + 1
        probes = {
            "levenshtein_batch": lambda: B.levenshtein_batch(a, b),
            "levenshtein_batch_k41": lambda: B.levenshtein_batch(
                a, b, k=np.full(batch, LEV_CUTOFF + 1, np.int64)
            ),
            "jaro_winkler_batch": lambda: B.jaro_winkler_batch(a, b),
            "indel_batch": lambda: B.indel_batch(a, b, k=k_ratio),
        }
        pps = {}
        for k, fn in probes.items():
            with tracer.span(f"kernels.{k}") as sp:
                fn()
            pps[k] = batch / sp.dur
            out[f"kernels.{k}.long.pairs_per_s"] = pps[k]
        # the Arrow round-trip floor: a UDF that ships both text columns
        # and returns a constant
        @pandas_udf("double")
        def null_udf(c1: pd.Series, c2: pd.Series) -> pd.Series:
            return pd.Series(np.zeros(len(c1)))

        with tracer.span("functions.null_udf") as sp:
            self.pairs.select(null_udf("t1", "t2").alias("s")).agg(F.sum("s")).first()
        walls = {}
        for name, _, _ in PASSES:
            (i,) = tracer.by_name(f"functions.{name}")
            walls[name] = tracer.spans[i].dur
            out[f"functions.{name}.s"] = walls[name]
            kernel_s = n / pps[PASS_KERNEL[name]]
            out[f"functions.{name}.parallel_eff"] = kernel_s / (CORES * walls[name])
        out["functions.null_udf.s"] = sp.dur
        out["functions.boundary_share"] = sp.dur / statistics.mean(walls.values())
        out["functions.parallel_eff"] = sum(
            n / pps[PASS_KERNEL[p]] for p in walls
        ) / (CORES * sum(walls.values()))
        out["trace.unattributed_s"] = tracer.self_time(tracer.by_name("job")[0])
        return out, problems


class ErBatch:
    """``run_pipeline`` over ``synth.synth_documents(ER_ENTITIES,
    ER_CORPUS_SEED)`` (short 3-4 word texts with 0-3 media spans),
    checkpointing off. ``seed`` draws the kernel probe's sample."""

    name = "er_batch"
    # after one warm-up job the next still runs ~20% slower, and the one
    # after that ~5%, while the JVM warms up: the second warm-up takes the
    # slowest. A fifth job in all (~10 s a run) would overrun the time
    # budget of all runs on a slow host (README.md)
    warm_ups = 2
    min_jobs = 2
    checkpoint = False
    score_attr = "score_pairs"  # the scoring.* function run_pipeline calls

    def __init__(self, spark: SparkSession, seed: int, work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.corpus = None
        self.n_jobs = 0
        self.ref = None
        self.f1 = None
        self.pairs_in = None

    def prepare(self) -> None:
        if self.corpus is not None:
            self.corpus.unpersist(blocking=True)
        self.corpus = synth.synth_documents(
            self.spark, n_entities=ER_ENTITIES, seed=ER_CORPUS_SEED
        ).persist(StorageLevel.MEMORY_AND_DISK)
        self.n_docs = self.corpus.count()
        self.docs = self.corpus.drop("entity_id")

    def _conf(self, checkpoint: bool) -> P.PipelineConfig:
        return P.PipelineConfig(
            metric="ratio",
            threshold=ER_THRESHOLD,
            drop_cap=500,
            checkpoint=checkpoint,
            n_buckets=ER_BUCKETS,
        )

    def _out_dir(self) -> str:
        # a fresh directory for every job: a reused one would make
        # run_pipeline resume and skip every scored bucket
        self.n_jobs += 1
        path = os.path.join(self.work, f"job{self.n_jobs}")
        if os.path.exists(path):
            raise RuntimeError(f"{path} already exists")
        return path

    def _run(self, checkpoint: bool) -> str:
        out_dir = self._out_dir()
        P.run_pipeline(self.spark, self.docs, out_dir, self._conf(checkpoint))
        return out_dir

    def _fingerprint(self, out_dir: str) -> tuple:
        e = self.spark.read.parquet(os.path.join(out_dir, "entities"))
        r = e.agg(
            F.count(F.lit(1)),
            F.countDistinct("entity_id"),
            F.sum(F.pmod(F.xxhash64("doc_id", "entity_id"), F.lit(1 << 40))),
        ).first()
        return tuple(r)

    def warm_up(self) -> str:
        """An untimed job without checkpointing. Its entity assignment is
        the reference every later job (and er_resumable's) must equal, and
        it counts the pairs the scoring stage receives."""
        seen = {}
        orig = scoring.score_pairs

        def counting(pairs_t, **kw):
            pairs_t = pairs_t.persist()
            seen["pairs"] = pairs_t
            seen["n"] = pairs_t.count()
            return orig(pairs_t, **kw)

        scoring.score_pairs = counting
        try:
            out_dir = self._run(checkpoint=False)
        finally:
            scoring.score_pairs = orig
            if "pairs" in seen:
                seen["pairs"].unpersist()
        self.pairs_in = seen["n"]
        return out_dir

    def check_warm_up(self, out_dir: str) -> list:
        self.ref = self._fingerprint(out_dir)
        truth, _ = synth.truth_tables(self.corpus)
        pred = self.spark.read.parquet(os.path.join(out_dir, "entities"))
        self.f1 = metrics.cluster_pairwise_f1(pred.select("doc_id", "entity_id"), truth)["f1"]
        shutil.rmtree(out_dir)
        if self.ref[0] != self.n_docs:
            return [f"warm-up assigned {self.ref[0]} of {self.n_docs} docs"]
        return []

    def job(self, tracer=None) -> str:
        return self._run(self.checkpoint)

    def check(self, out_dir: str) -> list:
        bad = []
        if self.f1 < MIN_PAIRWISE_F1:
            bad.append(f"pairwise F1 {self.f1:.5f} < {MIN_PAIRWISE_F1}")
        got = self._fingerprint(out_dir)
        if got != self.ref:
            bad.append(f"entity assignment {got} differs from the reference {self.ref}")
        if self.checkpoint:
            led = self.spark.read.parquet(os.path.join(out_dir, "ledger"))
            r = led.agg(F.countDistinct("bucket"), F.sum("n_pairs")).first()
            if r[0] != ER_BUCKETS or r[1] != self.pairs_in:
                bad.append(
                    f"ledger holds {r[0]} of {ER_BUCKETS} buckets and {r[1]} "
                    f"of {self.pairs_in} pairs"
                )
        shutil.rmtree(out_dir)
        return bad

    def end_to_end(self, job_s: float) -> dict:
        return {"scored_pairs_per_s": self.pairs_in / job_s, "pairwise_f1": self.f1}

    def traced(self, tracer: T.Tracer) -> tuple:
        targets = [
            (ingest, "with_match_text", "ingest"),
            (P, "pipeline_blocking_keys", "blocking"),
            (blocking, "sorted_neighborhood_pairs", "blocking"),
            (blocking, "candidate_pairs", "blocking"),
            (scoring, "attach_texts", "scoring.attach"),
            (scoring, self.score_attr, "scoring"),
            (cluster, "connected_components", "cluster.cc"),
            (cluster, "assign_entities", "cluster.assign"),
        ]
        keep, seen = [], {}
        with T.patched(tracer, targets, keep, seen):
            with tracer.span("job") as root:
                out_dir = self.job()
        out = {"trace.job_s": root.dur}
        try:
            out.update(self._trace_counts(tracer, seen, out_dir))
            problems = self.check(out_dir)
        finally:
            for df in keep:
                df.unpersist()
        return out, problems

    def _trace_counts(self, tracer: T.Tracer, seen: dict, out_dir: str) -> dict:
        """Layer counts and quality, computed off the clock."""
        out = {f"{name}.s": tracer.self_seconds(name) for name in ER_SPANS}
        out["trace.unattributed_s"] = tracer.self_time(tracer.by_name("job")[0])
        out["ingest.rows_out"] = tracer.count("ingest", "with_match_text")
        out["blocking.key_rows"] = tracer.count("blocking", "pipeline_blocking_keys")
        n_cand = tracer.count("blocking", "candidate_pairs")
        out["blocking.candidate_pairs"] = n_cand
        out["blocking.pairs_per_doc"] = n_cand / out["ingest.rows_out"]
        pairs_in = tracer.count("scoring.attach", "attach_texts")
        edges = tracer.count("scoring", self.score_attr)
        out["scoring.pairs_in"] = pairs_in
        out["scoring.edges"] = edges
        out["scoring.edge_yield"] = edges / pairs_in if pairs_in else 0.0
        out["scoring.ledger_mb"] = sum(
            _dir_mb(os.path.join(out_dir, d)) for d in ("edges", "ledger")
        )
        comps = seen["connected_components"][2]
        out["cluster.components"] = comps.select(F.countDistinct("entity_id")).first()[0]
        # candidate pairs carry surrogate long ids: decode them through the
        # (orig_doc_id, doc_id) columns of the frame attach_texts joined
        cand = seen["candidate_pairs"][2]
        docs_t = seen["attach_texts"][0][1]
        if "orig_doc_id" in docs_t.columns:
            m = docs_t.select("doc_id", "orig_doc_id")
            cand = (
                cand.join(m.withColumnRenamed("doc_id", "doc_id_1"), "doc_id_1")
                .select(F.col("orig_doc_id").alias("doc_id_1"), "doc_id_2")
                .join(m.withColumnRenamed("doc_id", "doc_id_2"), "doc_id_2")
                .select("doc_id_1", F.col("orig_doc_id").alias("doc_id_2"))
            )
        truth, _ = synth.truth_tables(self.corpus)
        q = dict(
            (r.stat, r.value)
            for r in metrics.blocking_quality(cand, truth).collect()
        )
        out["blocking.pair_completeness"] = q["pair_completeness"]
        out["blocking.pairs_quality"] = q["pairs_quality"]
        # a short-text kernel probe on a seeded sample of the scored pairs
        attached = seen["attach_texts"][2]
        rows = attached.select("text_1", "text_2").collect()
        rng = np.random.default_rng(self.seed)
        batch = min(len(rows) // CORES, 10_000)
        pick = rng.choice(len(rows), batch, replace=False)
        a = np.array([rows[i][0] for i in pick], dtype=object)
        b = np.array([rows[i][1] for i in pick], dtype=object)
        la = np.fromiter(map(len, a), np.int64, batch)
        lb = np.fromiter(map(len, b), np.int64, batch)
        k = np.floor((la + lb) * (1.0 - ER_THRESHOLD)).astype(np.int64) + 1
        with tracer.span("kernels.indel_batch.short") as sp:
            B.indel_batch(a, b, k=k)
        out["kernels.indel_batch.short.pairs_per_s"] = batch / sp.dur
        return out


class ErResumable(ErBatch):
    """``er_batch``'s corpus and config with the checkpoint ledger on."""

    name = "er_resumable"
    checkpoint = True
    score_attr = "score_with_checkpoint"


WORKLOADS = {w.name: w for w in (ScoreLong, ErBatch, ErResumable)}
