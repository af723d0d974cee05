"""End-to-end pipeline orchestration + spark-submit entry point.

    spark-submit --py-files rapidfuzz_spark.zip -m rapidfuzz_spark.pipeline.run \
        --input /path/docs_parquet --out /path/out --metric ratio --threshold 0.85

Stages (SURVEY.md §3.4): read docs -> match-text projection -> blocking
keys -> salted self-join -> candidate pairs -> Arrow-batched UDF scoring
(with per-bucket checkpoint ledger) -> threshold edges -> large-star/
small-star clustering -> entity assignment -> entities + metrics + lineage
parquet. Span sequences pass through untouched.
"""

from __future__ import annotations

import argparse
import os
import sys
from dataclasses import dataclass
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if __package__ in (None, ""):
    # spark-submit runs this file as a top-level script (__main__), so
    # relative imports have no parent package. Re-enter through the real
    # package (available via --py-files or the repo checkout next to this
    # file) and delegate to ITS main — every function body's relative
    # import then resolves normally.
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    if __name__ == "__main__":
        from rapidfuzz_spark.pipeline.run import main as _pkg_main

        _pkg_main()
        sys.exit(0)
    from rapidfuzz_spark.pipeline import blocking, cluster, ingest, metrics, scoring
else:
    from . import blocking, cluster, ingest, metrics, scoring


@dataclass
class PipelineConfig:
    metric: str = "ratio"
    threshold: float = 0.85
    hot_cap: int = 200
    drop_cap: int = 20000
    sn_window: int = 3
    # del<=1 signature keys on discriminative tokens (blocking.
    # token_deletion_keys): closes the recall gap for records whose rare
    # token is corrupted anywhere (candidate recall 0.985 -> 1.000,
    # hybrid F1 0.9906 -> 0.99837 at 50k entities after re-sweeping the
    # gates) for ~1.5x candidate pairs. On by default; turn off for
    # recall-insensitive bulk dedup.
    deletion_sig_blocking: bool = True
    # 'mr:' keys from non-text spans (blocking.media_ref_keys): docs
    # embedding the same media object become candidates even when their
    # text diverges past every text key. Pure candidate generation —
    # scoring still gates edges by text similarity. Cheap (0-3 media
    # spans/doc), census-guarded against boilerplate assets.
    media_ref_blocking: bool = True
    # 'p:'-namespaced doc-prefix keys (4-char prefix of the squashed
    # canonical text). OFF by default: measured cost/benefit on the ER
    # corpus (tools/key_family_audit.py, BENCH.md §3c) shows the family
    # is ~12-30% of scored pairs for 10-16 candidate truth pairs, ALL
    # of which CC closure recovers — the shipped rule's F1/precision/
    # recall at 50k entities are identical to 5 decimals with the
    # family off (0.99837/0.99818/0.99855), and its marginal recall
    # decays with corpus size because the hot common-prefix blocks that
    # carry it hit the census drop cap. Enable for small recall-critical
    # corpora where candidate-level (pre-closure) recall matters.
    doc_prefix_blocking: bool = False
    # replace string doc_ids with order-preserving long surrogates for
    # the blocking/pair/scoring/CC stages (decoded before the entity
    # write). The pair-dedup exchange — the pipeline's dominant shuffle
    # (BENCH.md §3 phases: ~57% of wall at 360k docs) — then moves two
    # 8-byte longs per row instead of two ~13-char strings (~48 B of
    # UnsafeRow), and CC's min/greatest/collect_set run on longs. The
    # mapping is built by a global sort of the doc-id column, so
    # surrogate order == lexicographic doc_id order: pair orientation,
    # SN tie-breaks, and CC's min-root are order-isomorphic and the
    # decoded output is bit-identical to the string path (CI-locked by
    # test_surrogate_ids_identical_entities). Exact at any corpus size —
    # unlike 64-bit hashing, which must collide near 10^12 docs.
    surrogate_ids: bool = True
    n_buckets: int = 16
    run_id: str = "run0"
    checkpoint: bool = True
    # broadcast the skinny (doc_id, texts) projection into the attach
    # joins when the corpus is at most this many docs AND its measured
    # text volume is at most broadcast_docs_bytes_max — the pair stream
    # then never shuffles for text attachment. 0 disables. At 10^12 docs
    # the thresholds are never met and the shuffle join (which scales
    # with cluster size) is used. The byte gate exists because row count
    # alone is unsafe: 400k docs of 20 KB each is an ~8 GB broadcast
    # that OOMs executors where the shuffle join works fine.
    broadcast_docs_max: int = 500_000
    broadcast_docs_bytes_max: int = 256 << 20


def pipeline_blocking_keys(
    docs_t: DataFrame, conf: PipelineConfig, carry_len: bool = False
) -> DataFrame:
    """The SHIPPED blocking-key recipe for a derived-text doc frame (all
    passes except sorted-neighborhood, which is generated directly as
    pairs). Shared by run_pipeline and the evaluation tools so a default
    change cannot silently drift between them.

    ``carry_len``: ride the scoring-text length (canon_text — same value
    attach_texts exposes as len_1/len_2) on every key row so
    candidate_pairs can length-prune pairs before the dedup shuffle."""
    src = "canon_text" if carry_len else None
    keys = blocking.blocking_keys(
        docs_t,
        use_prefix=conf.doc_prefix_blocking,
        use_sorted_neighborhood=False,
        carry_len_from=src,
    )
    if conf.deletion_sig_blocking:
        # standalone (not fused) so sig generation can be DF-prefiltered:
        # tokens hotter than drop_cap never explode into sig keys — the
        # census would drop every key they emit anyway, and rare-token
        # neighborhoods colliding with a hot signature now survive (see
        # token_deletion_keys for the superset/monotonicity proof)
        keys = keys.unionByName(
            blocking.token_deletion_keys(
                docs_t, df_cap=conf.drop_cap, carry_len_from=src
            )
        )
    if conf.media_ref_blocking and "spans" in docs_t.columns:
        keys = keys.unionByName(blocking.media_ref_keys(docs_t, carry_len_from=src))
    return keys


def _parquet_has_rows(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` is a readable parquet dataset with >= 1 row —
    the shared probe for both id-space guards (ledger: out_dir already
    holds scored edges; id_map: out_dir already holds a surrogate map),
    so their existence semantics cannot drift apart. Only a missing path
    means "no rows"; any other read error (corrupt footer, permissions)
    is raised rather than mistaken for an absent checkpoint."""
    try:
        return not spark.read.parquet(path).isEmpty()
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return False


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    conf: PipelineConfig = PipelineConfig(),
    fail_after_buckets: Optional[int] = None,
) -> DataFrame:
    """Returns entities DataFrame (doc_id, entity_id, spans intact)."""
    scoring._check_threshold(conf.threshold)  # before out_dir is touched
    docs_t = ingest.with_match_text(docs)
    if conf.metric in ("soft_tfidf", "soft_tfidf_jw"):
        from ..textops import softtfidf as ST

        docs_t = ST.attach_token_idf(docs_t, ST.idf_table(docs_t))
    use_sur = (
        conf.surrogate_ids and dict(docs_t.dtypes).get("doc_id") == "string"
    )
    mapping = None
    if use_sur:
        # order-preserving dictionary encoding: sort the doc-id column
        # once, number it, and run every pair-scale stage on the longs.
        # monotonically_increasing_id over a range-sorted frame is
        # globally ascending (partition ids follow the range order), so
        # surrogate comparisons agree with string comparisons everywhere
        # they matter. The assignment must be PINNED — a lineage replay
        # (or a resumed run) renumbering ids some consumer already used
        # would silently mix id spaces. Checkpointed runs therefore store
        # the map next to the edge ledger and reuse it on resume (the
        # scored buckets in out_dir carry these longs); uncheckpointed
        # runs pin it with an eager localCheckpoint.
        def _build_mapping() -> DataFrame:
            # distinct BEFORE numbering: duplicate doc_id rows (a
            # malformed but elsewhere-tolerated input — see
            # sorted_neighborhood_pairs' self-pair guard) must share one
            # surrogate, or the copies would self-pair and self-merge
            # where the string path produces no such pairs
            return (
                docs_t.select(F.col("doc_id").alias("orig_doc_id"))
                .distinct()
                .sort("orig_doc_id")
                .withColumn("did", F.monotonically_increasing_id())
            )

        if conf.checkpoint:
            map_path = os.path.join(out_dir, "id_map")
            loaded = True
            try:
                mapping = spark.read.parquet(map_path)
            except AnalysisException as e:
                if e.getCondition() != "PATH_NOT_FOUND":
                    raise
                loaded = False
                if _parquet_has_rows(spark, os.path.join(out_dir, "ledger")):
                    # scored buckets exist but their id map does not:
                    # either they were written without surrogates (string
                    # edges) or the map was lost — a fresh map cannot be
                    # proven consistent with them, so refuse rather than
                    # mix id spaces
                    raise ValueError(
                        f"out_dir {out_dir} holds scored edge buckets but "
                        f"no id_map at {map_path}; they were written in a "
                        "different (or unprovable) id space — resume with "
                        "the original surrogate_ids setting, or use a "
                        "fresh out_dir"
                    )
                _build_mapping().write.mode("overwrite").parquet(map_path)
                mapping = spark.read.parquet(map_path)
            if loaded:
                # resuming: the input's doc-id SET must equal the set the
                # stored map was built from, or the already-scored edge
                # buckets and this run's ids describe different corpora.
                # Set comparison (not row counts — duplicate doc_id rows
                # are tolerated input and share one surrogate), in one
                # narrow id-column pass via a full outer join.
                chk = (
                    docs_t.select("doc_id")
                    .withColumn("inp", F.lit(1))
                    .join(
                        mapping.select(
                            F.col("orig_doc_id").alias("doc_id")
                        ).withColumn("hit", F.lit(1)),
                        "doc_id",
                        "full",
                    )
                    .agg(
                        F.sum(
                            F.when(
                                F.col("inp").isNotNull()
                                & F.col("hit").isNull(),
                                1,
                            ).otherwise(0)
                        ).alias("unmapped"),
                        F.sum(
                            F.when(F.col("inp").isNull(), 1).otherwise(0)
                        ).alias("map_only"),
                    )
                    .collect()[0]
                )
                if chk.unmapped or chk.map_only:
                    raise ValueError(
                        f"resume id_map at {map_path} does not cover this "
                        f"input ({chk.unmapped} input docs missing from "
                        f"the map, {chk.map_only} map entries absent from "
                        "the input); resume only continues an interrupted "
                        "run over the SAME corpus — use a fresh out_dir"
                    )
        else:
            mapping = _build_mapping().localCheckpoint(eager=True)
        # AQE broadcasts this narrow doc-scale join at sandbox sizes; at
        # corpus scale it is one exchange of the working projection —
        # paid once, against a ~3x byte cut on the (much larger)
        # pair-dedup exchange every downstream stage feeds
        docs_t = (
            docs_t.withColumnRenamed("doc_id", "orig_doc_id")
            .join(mapping, "orig_doc_id")
            .withColumnRenamed("did", "doc_id")
        )
    elif conf.checkpoint:
        # the mirror-image mix: buckets scored WITH surrogates (an id_map
        # sits in out_dir) must not be resumed with surrogate_ids=False —
        # string edges would append to long-id buckets
        map_path = os.path.join(out_dir, "id_map")
        if _parquet_has_rows(spark, map_path):
            raise ValueError(
                f"out_dir {out_dir} holds a surrogate id_map at {map_path} "
                "— its edge buckets carry long ids; resume with "
                "surrogate_ids=True (the setting the run started with) or "
                "use a fresh out_dir"
            )
    # docs_t feeds 4 blocking passes + 2 attach_texts joins + the entity
    # assignment: persist the derived-text projection once or every branch
    # re-executes the upstream source (at scale: a narrow cached
    # (doc_id, texts) projection, NOT the full doc rows with media spans)
    from pyspark.storagelevel import StorageLevel

    docs_t = docs_t.persist(StorageLevel.MEMORY_AND_DISK)
    # sorted-neighborhood pairs are produced directly (size-2 blocks never
    # need the census/salted-join machinery); the remaining passes go
    # through the salted self-join, with cross-pass dedup inside
    # candidate_pairs
    # metrics with the indel-family length prefilter (scoring.score_pairs)
    # get the SAME prune applied at the blocking join, before the pair
    # dedup shuffle and both attach joins — the pairs it removes are
    # exactly the ones score_pairs would discard post-attach, so results
    # are unchanged (locked by test_len_prune_matches_score_prefilter)
    prunable = conf.metric in scoring.PRUNABLE_METRICS
    len_frac = (1.0 - conf.threshold) if prunable else None
    keys = pipeline_blocking_keys(docs_t, conf, carry_len=prunable)
    sn = blocking.sorted_neighborhood_pairs(docs_t, window=conf.sn_window)
    caches: list = []
    pairs = blocking.candidate_pairs(
        keys,
        hot_cap=conf.hot_cap,
        drop_cap=conf.drop_cap,
        extra_pairs=sn,
        cache_out=caches,
        len_frac=len_frac,
    )
    # docs_t is already persisted; this aggregate is the same cache scan
    # the first blocking job performs, so the extra action is cheap. The
    # byte estimate covers what attach_texts actually broadcasts: both
    # text columns (char counts — exact for latin-1, an undercount for
    # wide unicode, which the 2x headroom in the default absorbs) plus
    # the token/IDF arrays when the soft-tfidf path attached them.
    _bytes_est = F.length("canon_text") + F.length("norm_text")
    if "idfs" in docs_t.columns:
        # toks repeat canon_text's chars (+ the 8 B double IDF and array
        # overhead per token) — counting the text twice over-estimates
        # slightly, which is the safe direction for an OOM gate
        _bytes_est = _bytes_est + _bytes_est + F.size("toks") * 16
    _st = docs_t.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_bytes_est).alias("bytes"),
    ).first()
    bc = (
        conf.broadcast_docs_max > 0
        and _st["n"] <= conf.broadcast_docs_max
        and (_st["bytes"] or 0) <= conf.broadcast_docs_bytes_max
    )
    pairs_t = scoring.attach_texts(pairs, docs_t, broadcast_docs=bc)
    if conf.checkpoint:
        edges = scoring.score_with_checkpoint(
            spark,
            pairs_t,
            out_dir,
            metric=conf.metric,
            threshold=conf.threshold,
            n_buckets=conf.n_buckets,
            run_id=conf.run_id,
            fail_after_buckets=fail_after_buckets,
        )
    else:
        edges = scoring.score_pairs(
            pairs_t, metric=conf.metric, threshold=conf.threshold
        )
    comps = cluster.connected_components(edges)
    if use_sur:
        # decode: two narrow doc-scale joins against the pinned mapping.
        # Surrogate order == doc_id order, so min-did roots decode to
        # exactly the min-doc_id entity labels the string path produces.
        m_doc = mapping.select(F.col("did").alias("doc_id"), "orig_doc_id")
        m_ent = mapping.select(
            F.col("did").alias("entity_id"),
            F.col("orig_doc_id").alias("entity_orig"),
        )
        comps = (
            comps.join(m_doc, "doc_id")
            .join(m_ent, "entity_id")
            .select(
                F.col("orig_doc_id").alias("doc_id"),
                F.col("entity_orig").alias("entity_id"),
            )
        )
        docs_for_assign = docs_t.select(
            F.col("orig_doc_id").alias("doc_id"),
            *[c for c in docs.columns if c != "doc_id"],
        )
    else:
        docs_for_assign = docs_t.select(*docs.columns)
    # assign from the persisted projection, not the raw `docs` plan: the
    # original columns (spans included) ride along in docs_t, so this
    # avoids re-executing the source scan a second time (at 10^12 docs,
    # a full extra pass over the table) purely to re-read columns we
    # already hold
    entities = cluster.assign_entities(docs_for_assign, comps)
    entities.write.mode("overwrite").parquet(os.path.join(out_dir, "entities"))
    docs_t.unpersist()
    for c in caches:  # release the blocking-key cache (see candidate_pairs)
        c.unpersist()
    out = spark.read.parquet(os.path.join(out_dir, "entities"))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument(
        "--input-format",
        default="auto",
        help="auto | parquet | table (catalog identifier, e.g. Iceberg) |"
        " any spark.read.format name",
    )
    ap.add_argument("--out", required=True)
    ap.add_argument("--metric", default="ratio")
    ap.add_argument("--threshold", type=float, default=0.85)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--no-checkpoint", action="store_true")
    ap.add_argument(
        "--no-deletion-sig-blocking",
        action="store_true",
        help="skip del<=1 signature keys (recall carrier for in-token "
        "edits; ~1.5x candidate pairs)",
    )
    ap.add_argument(
        "--no-media-ref-blocking",
        action="store_true",
        help="skip 'mr:' keys from shared non-text spans",
    )
    args = ap.parse_args()
    spark = (
        SparkSession.builder.appName("rapidfuzz-spark-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )
    docs = ingest.load_documents(spark, args.input, args.input_format)
    conf = PipelineConfig(
        metric=args.metric,
        threshold=args.threshold,
        run_id=args.run_id,
        checkpoint=not args.no_checkpoint,
        deletion_sig_blocking=not args.no_deletion_sig_blocking,
        media_ref_blocking=not args.no_media_ref_blocking,
    )
    entities = run_pipeline(spark, docs, args.out, conf)
    n = entities.select(F.countDistinct("entity_id")).collect()[0][0]
    print(f"entities: {n}")


if __name__ == "__main__":
    main()
