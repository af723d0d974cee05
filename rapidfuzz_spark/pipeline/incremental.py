"""Incremental entity resolution: link NEW documents against an existing
entity catalog without re-running the full pairwise pipeline, plus a
Structured Streaming wrapper.

Batch path (`link_increment`): new docs are blocked against the existing
corpus only (no new-x-new self-join by default), scored with the same
dual-pass cutoff scorer as the batch pipeline, and each new doc adopts the
entity of its best match at/above the threshold — otherwise it founds a
new entity (its own doc_id). At scale the increment is small relative to
the base, so the blocking-key join broadcasts the increment's keys and
the base side is never reshuffled.

Streaming path (`stream_link`): `readStream` -> `foreachBatch` over
`link_increment` — each micro-batch writes its entity assignments to the
output table. foreachBatch (not a stateful operator) is the right Spark
shape here: linkage needs a join against the big static catalog, which is
a batch join per micro-batch. foreachBatch delivery is AT-LEAST-ONCE, so
the sink write is made idempotent by partitioning on batch_id and
dynamically overwriting only that partition — a replayed micro-batch
rewrites its own partition instead of duplicating rows.
"""

from __future__ import annotations

import os
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import blocking, ingest, scoring
from .run import PipelineConfig, pipeline_blocking_keys


def link_increment(
    new_docs: DataFrame,
    base_docs_t: DataFrame,
    base_entities: DataFrame,
    conf: PipelineConfig = PipelineConfig(),
    return_edges: bool = False,
) -> DataFrame:
    """Assign an entity_id to every row of ``new_docs``.

    - new_docs:     (doc_id, spans) — the increment
    - base_docs_t:  existing docs WITH derived text columns
      (``ingest.with_match_text`` output)
    - base_entities: (doc_id, entity_id) for the existing docs

    Returns (doc_id, spans, entity_id, matched_doc_id, score); spans pass
    through untouched (span-sequence invariant).

    ``return_edges``: return the FULL above-threshold scored pair frame
    (doc_id_1=new, doc_id_2=base, score) instead of the per-doc best
    match — the edge set ``stream_link_cc`` folds into the maintained
    clustering (a new doc matching docs of TWO base entities is merge
    evidence the top-1 assignment path deliberately discards).
    """
    new_t = ingest.with_match_text(new_docs)
    if conf.metric in ("soft_tfidf", "soft_tfidf_jw"):
        # the batch pipeline attaches toks/idfs in run_pipeline; the
        # incremental path must too or score_pairs' soft-tfidf branch has
        # no toks_N/idfs_N columns. IDF is trained on the BASE catalog
        # (the stable corpus statistic); the increment is scored against
        # it rather than shifting it per micro-batch.
        from ..textops import softtfidf as ST

        idf = ST.idf_table(base_docs_t)
        new_t = ST.attach_token_idf(new_t, idf)
        if "toks" not in base_docs_t.columns:
            base_docs_t = ST.attach_token_idf(base_docs_t, idf)

    # pre-dedup length prune for indel-family metrics, exactly as in
    # run_pipeline: prune at the key join, before the candidate dedup and
    # the base-text attach join (same pairs score_pairs would discard)
    prunable = conf.metric in scoring.PRUNABLE_METRICS
    # same key families as run_pipeline so the increment finds every
    # match the batch pipeline would (minus sorted-neighborhood, which
    # needs a global order over base+new and is a batch-rerun concern,
    # not an increment one)
    keys_new = pipeline_blocking_keys(new_t, conf, carry_len=prunable)
    keys_base = pipeline_blocking_keys(base_docs_t, conf, carry_len=prunable)
    # census over the BASE keys: hot/stopword keys are dropped exactly as
    # in batch blocking (the increment inherits the same skew policy)
    census = blocking.hot_key_census(
        keys_base.select("block_key", "doc_id"), blocking.HOT_CAP, conf.drop_cap
    )
    keep_cols = ["block_key", "doc_id"] + (["tlen"] if prunable else [])
    keys_base = (
        keys_base.join(F.broadcast(census), "block_key", "left")
        .where(~F.coalesce(F.col("dropped"), F.lit(False)))
        .select(*keep_cols)
    )
    joined = F.broadcast(
        keys_new.withColumnsRenamed({"doc_id": "new_id", "tlen": "tlen_n"})
    ).join(
        keys_base.withColumnsRenamed({"doc_id": "base_id", "tlen": "tlen_b"}),
        "block_key",
    )
    if prunable:
        joined = joined.where(
            F.abs(F.col("tlen_n") - F.col("tlen_b"))
            <= (1.0 - conf.threshold) * (F.col("tlen_n") + F.col("tlen_b"))
        )
    cand = joined.select("new_id", "base_id").dropDuplicates(["new_id", "base_id"])
    pairs = cand.select(
        F.col("new_id").alias("doc_id_1"), F.col("base_id").alias("doc_id_2")
    )
    extra = [c for c in ("toks", "idfs") if c in new_t.columns]
    t_new = new_t.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("canon_text").alias("text_1"),
        F.col("norm_text").alias("raw_1"),
        *[F.col(c).alias(f"{c}_1") for c in extra],
    )
    t_base = base_docs_t.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("canon_text").alias("text_2"),
        F.col("norm_text").alias("raw_2"),
        *[F.col(c).alias(f"{c}_2") for c in extra],
    )
    pairs_t = (
        pairs.join(F.broadcast(t_new), "doc_id_1")
        .join(t_base, "doc_id_2")
        .withColumn("len_1", F.length("text_1"))
        .withColumn("len_2", F.length("text_2"))
    )
    edges = scoring.score_pairs(pairs_t, metric=conf.metric, threshold=conf.threshold)
    # round before ranking: best-match adoption must not depend on sub-1e-6
    # float noise (keeps the argmax stable across kernel implementations
    # and engines; ties break deterministically on doc_id_2)
    edges = edges.withColumn("score", F.round("score", 6))
    if return_edges:
        return edges.select("doc_id_1", "doc_id_2", "score")
    w = Window.partitionBy("doc_id_1").orderBy(F.desc("score"), "doc_id_2")
    best = (
        edges.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            F.col("doc_id_1").alias("doc_id"),
            F.col("doc_id_2").alias("matched_doc_id"),
            "score",
        )
    )
    assigned = (
        best.join(
            base_entities.withColumnsRenamed(
                {"doc_id": "matched_doc_id", "entity_id": "matched_entity_id"}
            ),
            "matched_doc_id",
        )
    )
    return (
        new_docs.join(F.broadcast(assigned), "doc_id", "left")
        .withColumn("entity_id", F.coalesce("matched_entity_id", "doc_id"))
        .drop("matched_entity_id")
    )


def stream_link(
    stream_docs: DataFrame,
    base_docs_t: DataFrame,
    base_entities: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    conf: PipelineConfig = PipelineConfig(),
    trigger_available_now: bool = True,
):
    """Structured Streaming linkage: stream of (doc_id, spans) micro-batches
    -> entity assignments written to ``out_dir`` parquet, partitioned by
    batch_id with dynamic partition overwrite so a replayed micro-batch
    (foreachBatch is at-least-once) is idempotent. Returns the
    StreamingQuery (caller awaits termination)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = link_increment(batch_df, base_docs_t, base_entities, conf)
        (
            out.select("doc_id", "entity_id", "matched_doc_id", "score")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(os.path.join(out_dir, "assignments"))
        )

    writer = (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_link_cc(
    stream_docs: DataFrame,
    base_docs_t: DataFrame,
    initial_assign: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    conf: PipelineConfig = PipelineConfig(),
    trigger_available_now: bool = True,
):
    """Streaming ENTITY-ID MAINTENANCE — the transitive half
    ``stream_link`` deliberately omits. Each micro-batch is scored
    against the base catalog (``link_increment(return_edges=True)``,
    ALL above-threshold matches, not just the best), and the edge set
    is folded into the maintained assignment with
    ``cluster.incremental_connected_components``: a batch doc matching
    docs of TWO existing entities MERGES them (and every doc of both
    clusters is remapped), unmatched batch docs become singletons via
    their self-edge, and untouched entities pass through byte-identical.
    The updated assignment is the next batch's base, so merges chain
    across micro-batches through base docs.

    Limitation: every micro-batch is matched only against the static
    ``base_docs_t``, never against earlier stream docs or the other docs
    of its own batch. Two stream docs that match only each other are
    therefore never linked; each stays its own entity (ROADMAP.md
    direction 5).

    Snapshots are written to ``out_dir``/assign/version=<batch_id>
    (whole-directory overwrite per version); a replayed micro-batch
    (foreachBatch is at-least-once) reads the latest snapshot with
    version < its batch_id and overwrites its own version, so replay is
    idempotent. In production the snapshot directory is an Iceberg
    table and the per-version write is a MERGE INTO + snapshot commit;
    the per-increment cost model is BENCH §26a's: two broadcast-probe
    scans of the assignment, shuffles bounded by the batch.

    Returns the StreamingQuery (caller awaits termination).
    """
    from . import cluster

    assign_root = os.path.join(out_dir, "assign")

    def _latest_version(sp, below: int):
        # Hadoop FS listing, NOT os.listdir: out_dir may be s3://, hdfs://
        # or any other scheme the executors can write — a driver-local
        # listing would silently see nothing there and every batch would
        # fold into initial_assign, losing cross-batch merges
        jvm = sp._jvm
        path = jvm.org.apache.hadoop.fs.Path(assign_root)
        fs = path.getFileSystem(sp._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return None
        vs = []
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            if name.startswith("version="):
                v = int(name.split("=", 1)[1])
                if v < below:
                    vs.append(v)
        return max(vs) if vs else None

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        v = _latest_version(sp, batch_id)
        assign = (
            sp.read.parquet(os.path.join(assign_root, f"version={v}"))
            if v is not None
            else initial_assign
        )
        scored = link_increment(
            batch_df.select("doc_id", "spans"),
            base_docs_t,
            assign,
            conf,
            return_edges=True,
        )
        edges = scored.select("doc_id_1", "doc_id_2").unionByName(
            batch_df.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("doc_id").alias("doc_id_2"),
            )
        )
        updated = cluster.incremental_connected_components(assign, edges)
        updated.write.mode("overwrite").parquet(
            os.path.join(assign_root, f"version={batch_id}")
        )

    writer = (
        stream_docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
