"""One measurement harness for the operator-scale rows of BENCH.md (§3–§26).

    python tools/harness.py <workload> --executors N [--size S]

Each workload is a registration: an input builder, one or more named jobs
(variants), and the result fields that must not change from run to run.
The harness owns everything else:

- the session: ``local-cluster[N, cores, heap]`` (N executor JVMs) for the
  N-vs-4N workloads, or ``local[4N]`` threads in one JVM for the
  in-process ones (BENCH's ``local[32]`` rows are ``--executors 8``), with
  heaps sized to the host's memory (``heaps_mb``);
- inputs pinned with ``localCheckpoint`` before any clock, at 128
  partitions (in-process: one per thread, as BENCH's ``local[k]`` rows ran);
- per variant, one warm-up run, then the best of ``trials`` runs with
  nothing but the job inside the clock; every run must repeat the
  warm-up's digest fields, and ``agree`` fields must match across variants;
- one JSON row per (workload, variant, level) on standard output;
- per-stage task statistics of the best run's Spark jobs (max/p75/median
  task ms, tasks, shuffle MB; the ``TOP_STAGES`` longest stages), and the
  shuffle MB written by all its stages, read from Spark's event log with
  ``perfbench.spans.read_event_log``.

``--size`` defaults to the size of the BENCH.md row the workload records
(entities, documents, vectors or base rows; see the registrations).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench.spans import MB, read_event_log  # noqa: E402

PARTS = 128  # N-vs-4N task count: identical work at every parallelism
HEAP_CAP_MB = 8192  # heap per executor at most; in-process, per 4 cores
TOP_STAGES = 3  # stages reported per row, longest task first


@dataclass(frozen=True)
class Workload:
    """``build(spark, size)`` returns the inputs as a dict: DataFrames,
    pinned with ``pin``, and int facts about them, which every row
    reports. Each job takes that dict plus ``work``, a scratch directory
    the harness removes, and returns a dict of result fields."""

    build: Callable
    jobs: dict
    size: int
    digest: tuple  # fields every run of a variant must repeat
    agree: tuple = ()  # fields every variant must share
    cluster: bool = True  # executor JVMs (N-vs-4N) or in-process threads
    cores: int = 4
    trials: int = 1
    conf: dict = field(default_factory=dict)  # SQL settings for the run


WORKLOADS: dict = {}


def register(name: str, **kw) -> None:
    WORKLOADS[name] = Workload(**kw)


def pin(df):
    """Materialize an input at the session's shuffle partition count:
    ``PARTS`` in an N-vs-4N session, so both levels run the same tasks."""
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(parts).localCheckpoint(eager=True)


def digest(df, *cols) -> dict:
    """Row count and md5 over the sorted ``col:col:...`` rows (a single
    column is sorted by its own type)."""
    key = cols[0] if len(cols) == 1 else F.concat_ws(":", *cols)
    rows = F.sort_array(F.collect_list(key))
    row = df.agg(
        F.count("*").alias("rows"),
        F.md5(F.concat_ws(",", rows).cast("binary")).alias("md5"),
    ).collect()[0]
    return {"rows": int(row["rows"]), "md5": row["md5"]}


def heaps_mb(executors: int, cluster: bool) -> tuple:
    """(executor, driver) heap MB: half the host's physical memory (the
    rest is for Python workers, off-heap buffers and the OS), split evenly
    over the executor JVMs and the driver, or given whole to the one
    in-process JVM; never above HEAP_CAP_MB per executor."""
    half_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20) // 2
    if cluster:
        each = min(HEAP_CAP_MB, half_mb // (executors + 1))
        return each, each
    return HEAP_CAP_MB, min(HEAP_CAP_MB * executors, half_mb)


def session(executors: int, wl: Workload, events: str):
    from pyspark.sql import SparkSession

    exec_mb, driver_mb = heaps_mb(executors, wl.cluster)
    if wl.cluster:
        master = f"local-cluster[{executors},{wl.cores},{exec_mb}]"
        parts = PARTS
    else:
        master = f"local[{executors * wl.cores}]"
        parts = executors * wl.cores
    spark = (
        SparkSession.builder.master(master)
        .appName(f"rf-harness-{executors}x{wl.cores}")
        # local-cluster's third field sizes the worker; executor heaps
        # follow spark.executor.memory, so set it to the same budget
        .config("spark.executor.memory", f"{exec_mb}m")
        # Python workers import the package from this checkout; without
        # PYTHONSAFEPATH a local worker puts its working directory first
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + events)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stage_stats(jobs: list, t0: float, t1: float) -> list:
    """Task statistics per stage of the jobs submitted in [t0, t1],
    longest task first."""
    stages: dict = {}
    for submitted, tasks in jobs:
        if t0 <= submitted <= t1:
            for t in tasks:
                stages.setdefault(t["Stage ID"], []).append(t)
    out = []
    for sid, tasks in stages.items():
        ms = sorted(
            t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in tasks
        )
        written = sum(
            (t.get("Task Metrics") or {})
            .get("Shuffle Write Metrics", {})
            .get("Shuffle Bytes Written", 0)
            for t in tasks
        )
        out.append(
            {
                "stage": sid,
                "tasks": len(ms),
                "median_task_ms": ms[(len(ms) - 1) // 2],
                "p75_task_ms": ms[(3 * (len(ms) - 1)) // 4],
                "max_task_ms": ms[-1],
                "shuffle_mb": round(written / MB, 2),
            }
        )
    return sorted(out, key=lambda r: -r["max_task_ms"])


def run(name: str, executors: int, size=None, spark=None) -> list:
    """Rows of one workload at one level. With ``spark`` given, the run
    uses that session and reports no stage statistics."""
    wl = WORKLOADS[name]
    size = size or wl.size
    work = tempfile.mkdtemp(prefix="rf_harness_")
    events = os.path.join(work, "events")
    own = spark is None
    if own:
        os.makedirs(events)
        spark = session(executors, wl, events)
    saved = {k: spark.conf.get(k, None) for k in wl.conf}
    rows, shared = [], {}
    try:
        for k, v in wl.conf.items():
            spark.conf.set(k, v)
        inputs = dict(wl.build(spark, size), work=work)
        facts = {k: v for k, v in inputs.items() if isinstance(v, int)}
        for variant, job in wl.jobs.items():
            ref = job(inputs)  # warm-up: workers, codegen, broadcasts
            best = None
            for _ in range(wl.trials):
                t0, c0 = time.time(), time.perf_counter()
                out = job(inputs)
                wall = time.perf_counter() - c0
                window = (t0, time.time())
                changed = [f for f in wl.digest if out[f] != ref[f]]
                if changed:
                    raise RuntimeError(f"{name}/{variant}: {changed} changed")
                if best is None or wall < best[0]:
                    best = (wall, window, out)
            for f in wl.agree:
                if shared.setdefault(f, ref[f]) != ref[f]:
                    raise RuntimeError(f"{name}/{variant}: {f} differs by variant")
            rows.append(
                {
                    "workload": name,
                    "variant": variant,
                    "executors": executors,
                    "cores_per_executor": wl.cores,
                    "size": size,
                    **facts,
                    **best[2],
                    "wall_s": round(best[0], 3),
                    "window": best[1],
                }
            )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        if own:
            spark.stop()
    jobs = read_event_log(events) if own else []
    shutil.rmtree(work, ignore_errors=True)
    for r in rows:
        stages = stage_stats(jobs, *r.pop("window"))
        r["shuffle_mb"] = round(sum(s["shuffle_mb"] for s in stages), 2)
        r["stages"] = stages[:TOP_STAGES]
    return rows


# --- input generators ----------------------------------------------------


def word_soup(n_docs: int, base_len: int, swaps: int, vocab_n=50_000, head=0):
    """Deterministic grouped word-soup: groups of 4 docs share a base of
    ``base_len`` distinct tokens from a ``vocab_n``-token vocabulary, and
    member j swaps min(j, swaps) of them for fresh ones. With ``head``,
    every doc of a group also carries the group's 3 stopwords drawn from
    a ``head``-token head (df ~ n_docs, against ~4 for body tokens).
    -> one token array per doc."""
    rng = np.random.default_rng(42)
    vocab = np.array([f"w{i}" for i in range(vocab_n)])
    stops = np.array([f"the{i}" for i in range(head)])
    docs = []
    for _ in range(n_docs // 4):
        base = rng.choice(vocab, size=base_len, replace=False)
        stop = rng.choice(stops, size=3, replace=False) if head else None
        for j in range(4):
            doc = base.copy()
            if j:
                pos = rng.choice(base_len, size=min(j, swaps), replace=False)
                doc[pos] = rng.choice(vocab, size=len(pos), replace=False)
            docs.append(np.concatenate([doc, stop]) if head else doc)
    return docs


def text_docs(spark, texts: list) -> dict:
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    docs = pin(spark.createDataFrame(pdf))
    return {"docs": docs, "n_docs": docs.count()}


def edit_soup(n_docs: int) -> list:
    """Deterministic Zipf word strings (4 words from a 50k random-word
    vocabulary, exponent 1.05: a hot gram head and a long rare tail) in
    groups of 3: member j applies j random single-char edits to the base,
    so (base, m1) is ed<=1, (base, m2) ed<=2 and (m1, m2) ed<=3."""
    rng = np.random.default_rng(42)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(
        ["".join(rng.choice(letters, size=rng.integers(4, 9))) for _ in range(50_000)]
    )
    ranks = rng.zipf(1.05, size=n_docs * 4).astype(np.int64) % len(vocab)
    words = vocab[ranks].reshape(-1, 4)
    texts = []
    for g in range(n_docs // 3):
        base = " ".join(words[g])
        texts.append(base)
        for j in range(1, 3):
            s = list(base)
            for _ in range(j):
                p = int(rng.integers(0, len(s)))
                op = int(rng.integers(0, 3))
                if op == 0 and len(s) > 1:
                    del s[p]
                elif op == 1:
                    s[p] = str(rng.choice(letters))
                else:
                    s.insert(p, str(rng.choice(letters)))
            texts.append("".join(s))
    return texts


def er_corpus(spark, n_entities: int):
    from rapidfuzz_spark.pipeline import synth

    return synth.synth_documents(spark, n_entities=n_entities, seed=42)


# --- N-vs-4N: the north-rule scoring stage and the full pipeline ---------


def scoring_pairs(spark, n_entities: int) -> dict:
    """Blocked candidate pairs of the synthesized ER corpus, as texts."""
    from rapidfuzz_spark.pipeline import blocking, ingest, scoring

    docs_t = pin(ingest.with_match_text(er_corpus(spark, n_entities).drop("entity_id")))
    keys = blocking.blocking_keys(docs_t)
    sn = blocking.sorted_neighborhood_pairs(docs_t)
    caches: list = []
    cand = blocking.candidate_pairs(
        keys, drop_cap=500, extra_pairs=sn, cache_out=caches
    )
    pairs = pin(
        scoring.attach_texts(cand, docs_t).select(
            F.col("text_1").alias("t1"), F.col("text_2").alias("t2")
        )
    )
    n_pairs = pairs.count()
    for c in caches:
        # dead once the pairs are pinned; must not hold executor memory
        # through the timed scoring
        c.unpersist()
    return {"pairs": pairs, "n_pairs": n_pairs}


def score4(i) -> dict:
    import rapidfuzz_spark.functions as RF

    row = (
        i["pairs"]
        .select(
            RF.jaro_winkler_similarity("t1", "t2").alias("jw"),
            RF.ratio("t1", "t2").alias("r"),
            RF.levenshtein_normalized_similarity("t1", "t2").alias("lv"),
            RF.osa_normalized_similarity("t1", "t2").alias("os"),
        )
        .agg(F.count("jw"), F.sum("jw"), F.sum("r"), F.sum("lv"), F.sum("os"))
        .collect()[0]
    )
    return {"scored": 4 * row[0]}  # four metrics per pair


register(
    "scaling",
    build=scoring_pairs,
    jobs={"score4": score4},
    size=600_000,
    digest=("scored",),
)


def pipeline_conf(shipped: bool):
    """pinned-r1 keeps the round-1 blocking recipe (doc-prefix keys, no
    deletion-signature or media-ref passes) so the cross-round N-vs-4N
    series stays comparable; shipped follows the current defaults."""
    import rapidfuzz_spark.pipeline.run as P

    return P.PipelineConfig(
        metric="ratio",
        threshold=0.85,
        drop_cap=500,
        checkpoint=False,
        deletion_sig_blocking=shipped,
        media_ref_blocking=shipped,
        doc_prefix_blocking=not shipped,
    )


def er_docs(spark, n_entities: int) -> dict:
    corpus = pin(er_corpus(spark, n_entities).drop("entity_id"))
    return {"corpus": corpus, "n_docs": corpus.count()}


def whole_pipeline(shipped: bool):
    def job(i) -> dict:
        import rapidfuzz_spark.pipeline.run as P

        c = i["corpus"]
        ents = P.run_pipeline(c.sparkSession, c, i["work"], pipeline_conf(shipped))
        return {"entities": ents.select(F.countDistinct("entity_id")).collect()[0][0]}

    return job


register(
    "scaling_pipeline",
    build=er_docs,
    jobs={"pinned_r1": whole_pipeline(False), "shipped": whole_pipeline(True)},
    size=120_000,
    digest=("entities",),
)


def pipeline_phases(i) -> dict:
    """The shipped pipeline with each phase forced by a localCheckpoint
    and timed on its own: compare phases across levels, not their sum
    against the fused wall."""
    import rapidfuzz_spark.pipeline.run as P
    from rapidfuzz_spark.pipeline import blocking, cluster, ingest, scoring

    conf = pipeline_conf(True)
    t: dict = {}

    def lap(name, fn):
        t0 = time.perf_counter()
        r = fn()
        t[name] = round(time.perf_counter() - t0, 2)
        return r

    def checkpoint(df):
        return df.localCheckpoint(eager=True)

    docs_t = lap(
        "project+persist",
        lambda: checkpoint(ingest.with_match_text(i["corpus"]).persist()),
    )
    keys = lap(
        "blocking_keys",
        lambda: checkpoint(P.pipeline_blocking_keys(docs_t, conf, True)),
    )
    lap(
        "census",
        lambda: checkpoint(
            blocking.hot_key_census(
                keys.select("block_key", "doc_id"), blocking.HOT_CAP, conf.drop_cap
            )
        ),
    )
    sn = blocking.sorted_neighborhood_pairs(docs_t)
    pairs = lap(
        "pairs+dedup",
        lambda: checkpoint(
            blocking.candidate_pairs(
                keys,
                drop_cap=conf.drop_cap,
                extra_pairs=sn,
                len_frac=1.0 - conf.threshold,
            )
        ),
    )
    n_pairs = pairs.count()
    pairs_t = lap(
        "attach_texts",
        lambda: checkpoint(scoring.attach_texts(pairs, docs_t, broadcast_docs=True)),
    )
    edges = lap(
        "score",
        lambda: checkpoint(
            scoring.score_pairs(pairs_t, metric=conf.metric, threshold=conf.threshold)
        ),
    )
    comps = lap("cc", lambda: cluster.connected_components(edges))
    ents = lap(
        "assign+count",
        lambda: cluster.assign_entities(docs_t, comps)
        .select(F.countDistinct("entity_id"))
        .collect()[0][0],
    )
    return {"pairs": n_pairs, "entities": ents, "phases": t}


register(
    "scaling_phases",
    build=er_docs,
    jobs={"phases": pipeline_phases},
    size=120_000,
    digest=("pairs", "entities"),
)


# --- near-duplicate, set-similarity and edit-distance joins --------------


def neardup_docs(spark, n_entities: int) -> dict:
    """The ER corpus as near-duplicate text: each entity's documents are
    perturbed copies of one record."""
    from rapidfuzz_spark.pipeline import ingest

    docs = ingest.with_match_text(er_corpus(spark, n_entities).drop("entity_id"))
    docs = pin(docs.select("doc_id", F.col("norm_text").alias("text")))
    return {"docs": docs, "n_docs": docs.count()}


def minhash_verify(i) -> dict:
    """MinHash signatures -> LSH band join -> exact 3-gram Jaccard verify
    (``near_duplicate_prune`` up to connected components)."""
    from rapidfuzz_spark.textops import dedup

    corpus = i["docs"]
    cand = dedup.minhash_lsh_candidates(
        corpus, n_hashes=16, rows_per_band=4, k=5, bucket_cap=5000
    )
    texts = corpus.select("doc_id", F.col("text").alias("__t"))
    pairs = (
        cand.join(texts.withColumnRenamed("doc_id", "id_1"), "id_1")
        .withColumnRenamed("__t", "t1")
        .join(texts.withColumnRenamed("doc_id", "id_2"), "id_2")
        .withColumnRenamed("__t", "t2")
    )
    verified = pairs.where(dedup.ngram_jaccard(pairs, "t1", "t2", n=3) >= 0.6)
    return {"rows": verified.count()}


register(
    "dedup",
    build=neardup_docs,
    jobs={"minhash": minhash_verify},
    size=120_000,
    digest=("rows",),
)


def stopword_soup(spark, n: int) -> dict:
    """Groups of 12 body tokens + 3 stopwords from a 10-token Zipf head,
    the quadratic hazard a rarest-first prefix must exclude."""
    soup = word_soup(n, base_len=12, swaps=3, head=10)
    return text_docs(spark, [" ".join(d) for d in soup])


def ppjoin(i) -> dict:
    from rapidfuzz_spark.textops import dedup

    out = dedup.prefix_filter_jaccard_join(i["docs"], threshold_num=3, threshold_den=5)
    return digest(out, "doc_id_1", "doc_id_2", "inter_sz", "union_sz")


def setjoin(i) -> dict:
    from rapidfuzz_spark.textops import dedup

    out = dedup.prefix_filter_set_join(
        i["docs"], measure="cosine", threshold_num=7, threshold_den=10
    )
    return digest(out, "doc_id_1", "doc_id_2", "inter_sz", "n1", "n2")


def simhash(i) -> dict:
    from rapidfuzz_spark.textops import dedup

    out = dedup.simhash_near_duplicates(i["docs"], bits=64, max_hamming=3)
    return digest(out, "id_1", "id_2", "hamming")


def edjoin(i) -> dict:
    from rapidfuzz_spark.textops.edjoin import edit_distance_join

    out = edit_distance_join(i["docs"], "text", k=2, q=3)
    return digest(out, "doc_id_1", "doc_id_2", "dist")


for _name, _build, _variant, _job, _size in (
    ("ppjoin", stopword_soup, "jaccard_3_5", ppjoin, 240_000),
    ("setjoin", stopword_soup, "cosine_7_10", setjoin, 240_000),
    (
        "simhash",
        lambda spark, n: text_docs(
            spark, [" ".join(d) for d in word_soup(n, base_len=30, swaps=2)]
        ),
        "hamming_3",
        simhash,
        60_000,
    ),
    ("edjoin", lambda spark, n: text_docs(spark, edit_soup(n)), "k2", edjoin, 480_000),
):
    register(
        _name, build=_build, jobs={_variant: _job}, size=_size, digest=("rows", "md5")
    )


def embeddings(spark, n_vecs: int, dim: int = 32) -> dict:
    """Groups of 4: a random unit base + N(0, 0.02) member noise, so
    in-group cosine is ~0.999 and cross-group ~0."""
    rng = np.random.default_rng(42)
    bases = rng.standard_normal((n_vecs // 4, dim))
    bases /= np.linalg.norm(bases, axis=1, keepdims=True)
    noise = 0.02 * rng.standard_normal((n_vecs, dim))
    vecs = np.repeat(bases, 4, axis=0)[:n_vecs] + noise
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": [row.astype(float).tolist() for row in vecs],
        }
    )
    emb = pin(spark.createDataFrame(pdf))
    return {"vecs": emb, "n_vecs": emb.count()}


def semdedup(i) -> dict:
    from rapidfuzz_spark.textops import ann

    out = ann.semantic_dedup(i["vecs"], n_cells=256, threshold=0.9, assign="pandas")
    return digest(out.where(F.col("keep")), "vec_id")


register(
    "semdedup",
    build=embeddings,
    jobs={"ivf256": semdedup},
    size=100_000,
    digest=("rows", "md5"),
)


# --- training export -----------------------------------------------------


def web_corpus(spark, n_docs: int) -> dict:
    """Web-shaped docs of 80-239 tokens from a 50k vocabulary via
    xxhash64(doc_id, position): every 8-gram is (w.h.p.) unique to its
    doc, so decontamination must flag exactly the 1% eval draw."""
    from rapidfuzz_spark.textops import training
    from rapidfuzz_spark.textops.sampling import md5_uniform

    u_lang = md5_uniform("doc_id", "lang")
    lang = (
        F.when(u_lang < 0.5, "en")
        .when(u_lang < 0.7, "zh")
        .when(u_lang < 0.8, "fr")
        .when(u_lang < 0.9, "es")
        .otherwise("de")
    )
    n_tok = F.lit(80) + (md5_uniform("doc_id", "len") * 160).cast("int")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_tok),
            lambda j: F.concat(
                F.lit("w"), F.pmod(F.xxhash64(F.col("doc_id"), j), F.lit(50000))
            ),
        ),
        " ",
    )
    corpus = pin(
        spark.range(n_docs)
        .select(F.concat(F.lit("d"), F.col("id")).alias("doc_id"))
        .select("doc_id", text.alias("text"), lang.alias("lang"))
    )
    ev = corpus.where(md5_uniform("doc_id", "eval") < 0.01)
    n_eval = ev.count()
    d = training.decontaminate(corpus, ev, n=8)
    n_contam = d.where(F.col("contaminated")).count()
    if n_contam != n_eval:
        raise RuntimeError(f"{n_contam} docs contaminated, not the {n_eval} eval docs")
    return {"corpus": corpus, "eval": ev, "n_docs": corpus.count(), "n_eval": n_eval}


def training_export(i) -> dict:
    """Decontamination, temperature resampling, token-budget packing and
    shard addressing, plus the corpus-unigram log-prob scorer."""
    from rapidfuzz_spark.textops import training
    from rapidfuzz_spark.textops.quality import unigram_logprob

    exported = training.training_export(
        i["corpus"],
        i["eval"],
        decontam_n=8,
        alpha=0.7,
        budget=2048,
        n_shards=64,
        pack_shards=64,
    ).count()
    lp = unigram_logprob(i["corpus"]).where(F.col("mean_logprob").isNotNull())
    return {"exported": exported, "scored": lp.count()}


def decontaminate(i) -> dict:
    """The export's only all-rows compute: gram explode + md5 probe."""
    from rapidfuzz_spark.textops import training

    d = training.decontaminate(i["corpus"], i["eval"], n=8)
    return {"contaminated": d.where(F.col("contaminated")).count()}


for _name, _variant, _job, _digest in (
    ("training", "composite", training_export, ("exported", "scored")),
    ("training_decon", "decon", decontaminate, ("contaminated",)),
):
    register(
        _name,
        build=web_corpus,
        jobs={_variant: _job},
        size=120_000,
        digest=_digest,
        cores=2,
    )


# --- in-process measurements ---------------------------------------------


def quoting_corpus(spark, n_docs: int) -> dict:
    """Web-shaped docs (80-239 tokens from an md5-seeded stream, so nearby
    ids share no grams); every 9th doc quotes a 20-token slice of one of
    37 "benchmark" docs, so every decontamination rule has positives.
    Eval = a 5% draw."""
    from rapidfuzz_spark.textops.sampling import md5_uniform

    i = F.col("id")

    def words(prefix, n, seed, mod):
        return F.array_join(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda j: F.concat(
                    F.lit(prefix),
                    F.pmod(F.xxhash64(seed + j), F.lit(mod)).cast("string"),
                ),
            ),
            " ",
        )

    n_tok = (F.pmod(F.xxhash64(i), F.lit(160)) + 80).cast("int")
    body = words("w", n_tok, i * 100000, 50000)
    quote = F.when(
        i % 9 == 0, F.concat(F.lit(" "), words("q", F.lit(20), (i % 37) * 1000, 500))
    ).otherwise(F.lit(""))
    text = F.concat(body, quote)
    docs = pin(spark.range(n_docs).select(i.alias("doc_id"), text.alias("text")))
    ev = docs.where(md5_uniform("doc_id", "eval") < 0.05)
    return {"docs": docs, "eval": ev, "n_docs": docs.count()}


def consume(df) -> list:
    """Materialize every row and every column: [row count, bit_xor of
    each row's xxhash64] — exact and independent of row order, so it
    doubles as a digest of the output."""
    return list(df.agg(F.count("*"), F.bit_xor(F.xxhash64(*df.columns))).first())


def decon_fused(i) -> dict:
    from rapidfuzz_spark.textops import training

    report = training.decontamination_report(
        i["docs"], i["eval"], n=13, min_hits=1, max_frac=0.05
    )
    return {"rows": consume(report)}


# the four standalone rules, at the fused report's settings
DECON_RULES = (
    ("decontaminate", {"n": 13, "min_hits": 1}),
    ("decontaminate_fraction", {"n": 13, "max_frac": 0.05}),
    ("substring_contamination", {"anchor_n": 13}),
    ("excise_contaminated_spans", {"n": 13}),
)


def decon_rule(name: str, kw: dict):
    def job(i) -> dict:
        from rapidfuzz_spark.textops import training

        return {"rows": consume(getattr(training, name)(i["docs"], i["eval"], **kw))}

    return job


def decon_composed(i) -> dict:
    """The four standalone rules, each re-exploding the corpus grams."""
    return {"rows": [decon_rule(*r)(i)["rows"] for r in DECON_RULES]}


register(
    "decon_fusion",
    build=quoting_corpus,
    jobs={
        "fused_report": decon_fused,
        "composed_4_rules": decon_composed,
        **{name: decon_rule(name, kw) for name, kw in DECON_RULES},
    },
    size=60_000,
    digest=("rows",),
    cluster=False,
    trials=3,
)


def skew_keys(n_hot: int, per_1000: int):
    """Token keys of a corpus whose docs carry 3 unique tokens each, plus
    ``n_hot`` planted hot keys of ``per_1000`` members per 1,000 docs,
    just under the drop cap: the whole pair volume flows through the hot
    keys."""

    def build(spark, n_docs: int) -> dict:
        members = n_docs * per_1000 // 1000
        m = n_docs // members
        i = F.col("id")
        hot = F.when((i % m) < n_hot, F.concat(F.lit("hot"), (i % m)))
        text = F.concat_ws(
            " ",
            *(F.concat(F.lit(u), i) for u in ("ua", "ub", "uc")),
            hot.otherwise(F.concat(F.lit("ud"), i)),
        )
        corpus = spark.range(n_docs).select(i.alias("doc_id"), text.alias("norm_text"))
        corpus = pin(corpus)
        tokens = F.array_distinct(F.split("norm_text", r"\s+"))
        keys = corpus.select(F.explode(tokens).alias("block_key"), "doc_id")
        return {"keys": keys, "n_docs": corpus.count(), "hot_members": members}

    return build


def blocked_pairs(hot_cap: int):
    def job(i) -> dict:
        from rapidfuzz_spark.pipeline import blocking

        caches: list = []
        rows = blocking.candidate_pairs(
            i["keys"], hot_cap=hot_cap, drop_cap=2 * i["hot_members"], cache_out=caches
        ).count()
        for c in caches:
            c.unpersist()
        return {"rows": rows}

    return job


# unsalted: each hot block's pairs in one join task; salted: spread over
# ceil(members / 200) salt buckets. AQE is off: its skew-join split would
# mask what the explicit salting contributes.
for _name, _n_hot, _per_1000 in (("skew", 24, 2), ("skew_adversarial", 4, 12)):
    register(
        _name,
        build=skew_keys(_n_hot, _per_1000),
        jobs={"unsalted": blocked_pairs(1 << 62), "salted": blocked_pairs(200)},
        size=1_000_000,
        digest=("rows",),
        agree=("rows",),
        cluster=False,
        conf={"spark.sql.adaptive.enabled": "false"},
    )


def stopword_head(spark, n_docs: int) -> dict:
    """Every doc: 9 stopwords (3 each of the/of/and, 90% of the token
    stream) + one unique token, so the vocabulary (~n_docs keys) cannot
    broadcast."""
    i = F.col("id")
    stops = F.lit("the of and the of and the of and")
    text = F.concat_ws(" ", stops, F.concat(F.lit("u"), i))
    docs = pin(spark.range(n_docs).select(i.alias("doc_id"), text.alias("text")))
    return {"docs": docs, "n_docs": docs.count()}


def unigram(aqe: str, salt):
    def job(i) -> dict:
        from rapidfuzz_spark.textops import quality

        docs = i["docs"]
        docs.sparkSession.conf.set("spark.sql.adaptive.enabled", aqe)
        row = (
            quality.unigram_logprob(docs, salt_hot=salt)
            .agg(
                F.sum("n_tokens").alias("tok_sum"),
                F.round(F.sum("mean_logprob"), 3).alias("lp_sum"),
            )
            .collect()[0]
        )
        return {"tok_sum": int(row["tok_sum"]), "lp_sum": float(row["lp_sum"])}

    return job


register(
    "lm_skew",
    build=stopword_head,
    jobs={
        "unsalted_noaqe": unigram("false", None),
        "unsalted_aqe": unigram("true", None),
        "salted_noaqe": unigram("false", (16, 100_000)),
    },
    size=1_000_000,
    digest=("tok_sum", "lp_sum"),
    agree=("tok_sum", "lp_sum"),
    cluster=False,
    # a web-scale vocabulary cannot broadcast: force the shuffled join
    conf={
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    },
)


def soup_keys(spark, n_docs: int) -> dict:
    """Token keys of 8-token word-soup groups: same-group pairs share most
    keys (high CBS), cross-group collisions share one."""
    docs = word_soup(n_docs, base_len=8, swaps=2, vocab_n=100_000)
    ids = np.repeat(np.arange(len(docs)), 8)
    pdf = pd.DataFrame({"block_key": np.concatenate(docs), "doc_id": ids})
    keys = pin(spark.createDataFrame(pdf))
    return {"keys": keys, "n_key_rows": keys.count(), "n_docs": len(docs)}


def plain_dedup(i) -> dict:
    """What candidate_pairs ends in: the pair-dedup exchange."""
    keys = i["keys"]
    left = keys.select("block_key", F.col("doc_id").alias("doc_id_1"))
    right = keys.select("block_key", F.col("doc_id").alias("doc_id_2"))
    pairs = left.join(right, "block_key").where(F.col("doc_id_1") < F.col("doc_id_2"))
    pairs = pairs.select("doc_id_1", "doc_id_2")
    rows = pairs.dropDuplicates(["doc_id_1", "doc_id_2"]).count()
    return {"rows": rows, "kept": rows}  # prunes nothing


def meta_block(scheme: str, **kw):
    def job(i) -> dict:
        from rapidfuzz_spark.pipeline import blocking

        out = getattr(blocking, f"meta_block_{scheme}")(i["keys"], **kw)
        row = out.agg(
            F.count("*").alias("rows"), F.sum(F.col("kept").cast("long")).alias("kept")
        ).collect()[0]
        return {"rows": int(row["rows"]), "kept": int(row["kept"])}

    return job


register(
    "metablock",
    build=soup_keys,
    jobs={
        "dedup": plain_dedup,
        "wep": meta_block("wep"),
        "wnp": meta_block("wnp"),
        "cnp_k2": meta_block("cnp", k=2),
    },
    size=200_000,
    digest=("rows", "kept"),
    agree=("rows",),
    cluster=False,
    trials=3,
)


def assignment(spark, n_base: int) -> dict:
    """A base clustering (doc i in cluster i // 5, entity = its min doc)
    and a batch of 10k edges (a tenth of a smaller base): half merge
    random clusters, half attach new docs above the base range."""
    n_edges = min(10_000, n_base // 10)
    ids = np.arange(n_base, dtype=np.int64)
    base = pd.DataFrame({"doc_id": ids, "entity_id": (ids // 5) * 5})
    rng = np.random.default_rng(7)
    half = n_edges // 2
    a = rng.integers(0, n_base, size=half)
    b = rng.integers(0, n_base, size=half)
    new_ids = n_base + np.arange(n_edges - half, dtype=np.int64)
    c = rng.integers(0, n_base, size=n_edges - half)
    batch = pd.DataFrame(
        {"doc_id_1": np.concatenate([a, new_ids]), "doc_id_2": np.concatenate([b, c])}
    )
    return {
        "assign": pin(spark.createDataFrame(base)),
        "batch": pin(spark.createDataFrame(batch)),
        "n_base": n_base,
        "n_edges": n_edges,
    }


def content_hash(assign_df) -> int:
    """Order-independent: sum of crc32("doc_id:entity_id")."""
    key = F.concat_ws(
        ":", F.col("doc_id").cast("string"), F.col("entity_id").cast("string")
    )
    return int(assign_df.select(F.sum(F.crc32(key.cast("binary")))).collect()[0][0])


def cc_increment(i) -> dict:
    from rapidfuzz_spark.pipeline import cluster

    out = cluster.incremental_connected_components(i["assign"], i["batch"])
    return {"hash": content_hash(out)}


def cc_full(i) -> dict:
    """Re-cluster base + batch from scratch: the reference result."""
    from rapidfuzz_spark.pipeline import cluster

    assign, batch = i["assign"], i["batch"]
    star = assign.where(F.col("doc_id") != F.col("entity_id")).select(
        F.col("doc_id").alias("doc_id_1"), F.col("entity_id").alias("doc_id_2")
    )
    comps = cluster.connected_components(star.unionByName(batch))
    docs = (
        assign.select("doc_id")
        .unionByName(batch.select(F.col("doc_id_1").alias("doc_id")))
        .unionByName(batch.select(F.col("doc_id_2").alias("doc_id")))
        .distinct()
    )
    return {"hash": content_hash(cluster.assign_entities(docs, comps))}


register(
    "inccc",
    build=assignment,
    jobs={"increment": cc_increment, "full_recluster": cc_full},
    size=1_000_000,
    digest=("hash",),
    agree=("hash",),
    cluster=False,
)


# --- matching quality on the ER corpus -----------------------------------


def scored_edges(spark, n_entities: int) -> dict:
    """Candidate pairs of the shipped recipe (drop cap 500), scored once
    with Soft TF-IDF and dual-pass Jaro-Winkler, shared by every rule."""
    import rapidfuzz_spark.functions as RF
    from rapidfuzz_spark.pipeline import ingest, scoring, synth
    from rapidfuzz_spark.pipeline.run import PipelineConfig, pipeline_candidates
    from rapidfuzz_spark.textops import softtfidf as ST

    corpus = pin(er_corpus(spark, n_entities))
    truth = pin(synth.truth_tables(corpus)[0])
    docs_t = ingest.with_match_text(corpus.drop("entity_id"))
    docs_t = pin(ST.attach_token_idf(docs_t, ST.idf_table(docs_t)))
    conf = PipelineConfig(drop_cap=500)
    cand, caches = pipeline_candidates(docs_t, conf, prune=False)
    jw = RF.jaro_winkler_similarity
    st = ST.soft_tfidf_similarity("toks_1", "idfs_1", "toks_2", "idfs_2")
    scored = pin(
        scoring.attach_texts(cand, docs_t).select(
            "doc_id_1",
            "doc_id_2",
            st.alias("st"),
            F.greatest(jw("text_1", "text_2"), jw("raw_1", "raw_2")).alias("jw"),
        )
    )
    for c in caches:
        c.unpersist()
    n_pairs = scored.count()
    return {"corpus": corpus, "truth": truth, "scored": scored, "n_pairs": n_pairs}


# the edge rules BENCH §6/§6b record: st = Soft TF-IDF, jw = Jaro-Winkler
F1_RULES = [
    "st >= 0.72",
    "st >= 0.74",
    "st >= 0.75",
    "st >= 0.74 OR (st >= 0.60 AND jw >= 0.94)",
] + [
    f"st >= {lo} AND (st >= {hi} OR jw >= {jw})"
    for lo, hi, jw in [
        (0.74, 0.80, 0.85),
        (0.74, 0.82, 0.87),
        (0.75, 0.82, 0.87),
        (0.76, 0.82, 0.87),
        (0.77, 0.82, 0.87),
        (0.78, 0.82, 0.87),
        (0.76, 0.84, 0.89),
        (0.78, 0.84, 0.89),
    ]
]


def f1_sweep(i) -> dict:
    """Cluster pairwise F1 of every rule. One connected-components pass
    serves all rules: each node id carries its rule's index as a
    fixed-width prefix, so the rule graphs stay disjoint and each
    component's minimum is its rule's minimum doc id."""
    from rapidfuzz_spark.pipeline import cluster, metrics

    def tag(k, c):
        return F.concat(F.lit(f"{k:02d}|"), F.col(c)).alias(c)

    edges = [
        i["scored"].where(F.expr(rule)).select(tag(k, "doc_id_1"), tag(k, "doc_id_2"))
        for k, rule in enumerate(F1_RULES)
    ]
    comps = cluster.connected_components(reduce(DataFrame.unionByName, edges))
    out = {}
    for k, rule in enumerate(F1_RULES):
        mine = comps.where(F.col("doc_id").startswith(f"{k:02d}|")).select(
            *(F.substring(c, 4, 1 << 20).alias(c) for c in ("doc_id", "entity_id"))
        )
        pred = (
            i["corpus"]
            .select("doc_id")
            .join(mine, "doc_id", "left")
            .select("doc_id", F.coalesce("entity_id", "doc_id").alias("entity_id"))
        )
        stats = metrics.cluster_pairwise_f1(pred, i["truth"])
        out[rule] = {
            s: round(v, 5) if isinstance(v, float) else v for s, v in stats.items()
        }
    return {"rules": out}


register(
    "f1",
    build=scored_edges,
    jobs={"sweep": f1_sweep},
    size=50_000,
    digest=("rules",),
    cluster=False,
)


def er_truth(spark, n_entities: int) -> dict:
    from rapidfuzz_spark.pipeline import ingest, synth

    corpus = er_corpus(spark, n_entities)
    truth = pin(synth.truth_tables(corpus)[1].select("doc_id_1", "doc_id_2"))
    docs_t = pin(ingest.with_match_text(corpus.drop("entity_id")))
    return {
        "docs_t": docs_t,
        "truth": truth,
        "n_docs": docs_t.count(),
        "n_truth_pairs": truth.count(),
    }


def key_families(i) -> dict:
    """Per blocking-key family: the raw pair rows it pushes through the
    dedup exchange after the census drop, against the truth pairs only it
    covers. The doc-prefix family, off in the shipped recipe, is audited
    too."""
    from rapidfuzz_spark.pipeline import blocking
    from rapidfuzz_spark.pipeline.run import PipelineConfig, pipeline_blocking_keys

    docs_t, n_truth, drop_cap = i["docs_t"], i["n_truth_pairs"], 500
    conf = PipelineConfig(drop_cap=drop_cap, doc_prefix_blocking=True)
    keys = pipeline_blocking_keys(docs_t, conf).withColumn(
        "fam",
        F.when(F.col("block_key").rlike("^e:"), "delsig").otherwise(
            F.regexp_extract("block_key", r"^([a-z]+):", 1)
        ),
    )
    # the census drop, as candidate_pairs applies it (namespaces are
    # disjoint, so the global census equals a per-family one)
    sizes = keys.groupBy("block_key", "fam").count()
    hot = F.broadcast(sizes.where(F.col("count") > drop_cap).select("block_key"))
    kept = keys.join(hot, "block_key", "left_anti")
    # raw exchange rows per family: n*(n-1)/2 summed over its kept keys
    raw = {
        r["fam"]: (int(r["rows"]), int(r["keys"]))
        for r in sizes.join(hot, "block_key", "left_anti")
        .groupBy("fam")
        .agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("rows"),
            F.count("*").alias("keys"),
        )
        .collect()
    }
    a = kept.select("fam", "block_key", F.col("doc_id").alias("i"))
    b = kept.select("fam", "block_key", F.col("doc_id").alias("j"))
    pair_fam = (
        a.join(b, ["fam", "block_key"])
        .where(F.col("i") < F.col("j"))
        .select("fam", F.col("i").alias("doc_id_1"), F.col("j").alias("doc_id_2"))
        .dropDuplicates(["fam", "doc_id_1", "doc_id_2"])
    )
    sn = blocking.sorted_neighborhood_pairs(docs_t).select(
        F.lit("sn").alias("fam"), "doc_id_1", "doc_id_2"
    )
    pair_fam = pin(pair_fam.unionByName(sn))
    agg = pair_fam.groupBy("doc_id_1", "doc_id_2").agg(F.collect_set("fam").alias("fs"))
    hit = pin(i["truth"].join(agg, ["doc_id_1", "doc_id_2"]))
    n_hit = hit.count()
    only = F.sum(F.when(F.size("fs") == 1, 1).otherwise(0))
    cov = {
        r["f"]: (int(r["covered"]), int(r["only"]))
        for r in hit.select(F.explode("fs").alias("f"), "fs")
        .groupBy("f")
        .agg(F.count("*").alias("covered"), only.alias("only"))
        .collect()
    }
    dist = {r["fam"]: r["count"] for r in pair_fam.groupBy("fam").count().collect()}
    per_fam = {}
    for f in sorted(raw) + ["sn"]:
        covered, only_f = cov.get(f, (0, 0))
        per_fam[f] = {
            "raw_pair_rows": raw.get(f, (0, 0))[0],
            "kept_keys": raw.get(f, (0, 0))[1],
            "distinct_pairs": dist.get(f, 0),
            "truth_covered": covered,
            "truth_only_this_family": only_f,
            "recall_if_dropped": round((n_hit - only_f) / n_truth, 6),
        }
    raw_total = sum(v["raw_pair_rows"] for v in per_fam.values()) + dist.get("sn", 0)
    return {
        "union_candidate_recall": round(n_hit / n_truth, 6),
        "distinct_pairs": agg.count(),
        "raw_pair_rows_total": raw_total,
        "families": per_fam,
    }


register(
    "key_families",
    build=er_truth,
    jobs={"audit": key_families},
    size=50_000,
    digest=("union_candidate_recall", "distinct_pairs", "families"),
    cluster=False,
)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload", choices=sorted(WORKLOADS))
    ap.add_argument("--executors", type=int, required=True)
    ap.add_argument("--size", type=int, help="default: the size of the BENCH.md row")
    args = ap.parse_args(argv)
    for row in run(args.workload, args.executors, args.size):
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
