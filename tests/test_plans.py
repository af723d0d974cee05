"""Physical-plan regression tests: the plan properties BENCH.md §5 claims
(column-pruned scans, broadcast joins, one Arrow exchange per scoring
pass, no cartesian products) asserted against the actual Catalyst output,
so a refactor that silently degrades the plan fails CI — the properties
that carry the design to a 1000-executor cluster.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_scan_prunes_columns(spark, docs):
    """A 2-column projection must not read the full table width."""
    import rapidfuzz_spark.functions as RF

    q = docs.select("doc_id", RF.token_count_col("text").alias("n")) \
        if hasattr(RF, "token_count_col") else docs.select("doc_id", F.length("text").alias("n"))
    p = plan_str(q)
    assert "ReadSchema" in p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "embedding" not in read_schema and "spans" not in read_schema


def test_filter_pushed_to_scan(spark, docs):
    q = docs.where(F.col("lang") == "en").select("doc_id")
    p = plan_str(q)
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "lang" in pushed[0], pushed


def test_scoring_pass_single_arrow_node(spark, docs):
    """One metric pass = exactly one ArrowEvalPython node (no per-variant
    re-exchange, no row-at-a-time BatchEvalPython anywhere)."""
    import rapidfuzz_spark.functions as RF

    d = docs.select("doc_id", "text", "lang")
    pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.text").alias("t1"), F.col("b.text").alias("t2")
        )
    )
    q = pairs.select(RF.jaro_winkler_similarity("t1", "t2").alias("s"))
    p = plan_str(q, "simple")
    assert p.count("ArrowEvalPython") == 1, p
    assert "BatchEvalPython" not in p  # row-at-a-time Python = forbidden
    assert "CartesianProduct" not in p  # band join must be equi-keyed


def test_salted_pairs_broadcast_census_no_cartesian(spark, docs):
    from rapidfuzz_spark.pipeline import blocking

    d = docs.select("doc_id", F.lower("text").alias("norm_text"))
    keys = blocking.token_keys(d)
    pairs = blocking.candidate_pairs(keys, hot_cap=50, drop_cap=1000)
    p = plan_str(pairs)
    assert "BroadcastExchange" in p  # census reaches the join as broadcast
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_deletion_sig_prefilter_broadcast_anti_join(spark, docs):
    """The DF-prefiltered sig path must realize its hot-token exclusion
    as a broadcast (hash) anti-join — a shuffled or nested-loop anti-join
    on the full token stream would defeat the point at scale — and the
    whole pair plan must stay cartesian-free."""
    from rapidfuzz_spark.pipeline import blocking

    d = docs.select("doc_id", F.lower("text").alias("norm_text"))
    keys = blocking.token_keys(d).unionByName(
        blocking.token_deletion_keys(d, df_cap=50)
    )
    pairs = blocking.candidate_pairs(keys, hot_cap=50, drop_cap=50)
    p = plan_str(pairs)
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p  # key generation is pure Catalyst


def test_media_ref_keys_narrow_plan(spark):
    """Media-ref key generation is a single narrow projection over the
    span structs: no shuffle, no Python, and the scan reads only
    (doc_id, spans)."""
    from rapidfuzz_spark.pipeline import blocking

    fixture = spark.read.parquet("/root/repo/tests/fixtures/synth300.parquet")
    keys = blocking.media_ref_keys(fixture)
    p = plan_str(keys)
    assert "Exchange" not in p, p  # narrow: explode + project only
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "spans" in read_schema and "entity_id" not in read_schema


def test_length_prefilter_precedes_arrow_exchange(spark, docs):
    """The hoisted |len1-len2| prune must sit under (before) the Arrow
    node so filtered pairs never cross into Python."""
    from rapidfuzz_spark.pipeline import scoring

    d = docs.select(
        "doc_id",
        F.col("text").alias("text_x"),
    )
    pairs = (
        d.alias("a")
        .join(d.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            F.col("a.text_x").alias("text_1"),
            F.col("b.text_x").alias("text_2"),
            F.length("a.text_x").alias("len_1"),
            F.length("b.text_x").alias("len_2"),
        )
    )
    edges = scoring.score_pairs(pairs, metric="ratio", threshold=0.9)
    p = plan_str(edges, "simple")
    arrow_pos = p.find("ArrowEvalPython")
    assert arrow_pos != -1
    # exactly ONE Arrow node: the cutoff isNotNull filter must not be
    # pushed through the projection and duplicate the UDF evaluation
    assert p.count("ArrowEvalPython") == 1, p
    # the |len1-len2| prune sits BELOW the Arrow node — Catalyst inlines
    # it into the join condition (simple-mode explain prints parents
    # first, so "below" = later in the string)
    len_filter_pos = p.find("length(text_x")
    assert len_filter_pos > arrow_pos, p


def test_driver_queries_no_cartesian_no_rowpython(spark):
    """Lazy driver queries must compile without cartesian products or
    row-at-a-time Python eval."""
    import __spark_entry__ as E

    lazy = [
        "lev_distance", "fuzz_ratio", "jaro_winkler_similarity",
        "topk_matches", "block_census", "salted_block_pairs",
        "exact_dedup", "minhash_lsh_pairs", "simhash_sketch",
        "ngram_jaccard", "embedding_neardup", "ann_bruteforce", "ann_lsh",
        "ann_ivf",  # builds a bounded 16-row centroid collect, then lazy
        "ann_ivf_pandas",  # Arrow matmul assignment: ArrowEval, never Batch
        "event_sessions_native",
        "lang_id_ngram", "quality_scores", "token_count",
        "winnow_fingerprint", "part_name_match", "event_sessions",
        # round-3 session additions (all pure Catalyst; neardup_prune and
        # curation_keep_list run eager CC internally, covered separately)
        "dup_ngram_frac", "stratified_sample", "quota_sample",
        "token_df_topn", "cdc_chunk_dups", "incremental_lsh",
        "repetition_signals",
        # training-export operators (round-3 continuation)
        "decontaminate_eval", "temp_resample", "pack_docs",
        "shuffle_shards", "unigram_lp", "training_export_e2e",
        # round-5 second-session additions (ed_join/ed_join_rs carry a
        # DELIBERATE bounded distinct-value cartesian — own test below;
        # dsir/fs_tf/ari run bounded eager scalar aggregates)
        "monge_elkan", "token_sort_ratio", "ann_recall",
    ]
    qs = E.queries()
    for name in lazy:
        df = qs[name](spark, SF_DIR)
        p = plan_str(df, "simple")
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name


def test_stratified_sample_map_only(spark):
    """The Bernoulli sampler must stay a zero-exchange map-only plan —
    the property that makes it the sane downsampler at 10^12 rows."""
    from rapidfuzz_spark.textops import sampling

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = sampling.stratified_sample(d, {"en": 0.5}, default_rate=0.1)
    p = plan_str(df, "simple")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_decontaminate_probe_before_distinct(spark):
    """The per-doc DISTINCT hit count must run AFTER the broadcast probe:
    the corpus-sized gram stream reaches the join map-side, and the only
    shuffled rows are matched grams (the property that makes 13-gram
    decontamination a single corpus pass at 10^12 docs)."""
    from rapidfuzz_spark.textops import training
    from rapidfuzz_spark.textops.sampling import md5_uniform

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = d.where(md5_uniform("doc_id", "eval") < 0.05)
    df = training.decontaminate(d, ev, n=13)
    p = plan_str(df, "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # corpus side: scan -> explode -> broadcast join with NO exchange in
    # between (the join appears before any shuffle of the gram stream)
    probe = p[p.index("BroadcastHashJoin"):]
    scan = probe[probe.index("Generate"):] if "Generate" in probe else probe
    assert "Exchange hashpartitioning" not in scan.split("BroadcastExchange")[0]


def test_maintained_counts_never_aggregate_base(spark, tmp_path):
    """With the maintained counts table, an increment's plan may touch
    the (10^12-doc-scale) base band table exactly once — the bucket
    equi-join, fed through a broadcast anti-join against the hot-bucket
    list — and must contain NO aggregation over it. The re-census path
    scans the base twice (census + join); this is the scale contract
    that makes bucket_cap free per increment."""
    from rapidfuzz_spark.textops import dedup

    base = spark.createDataFrame(
        [(i, i % 3, f"s{i % 5}") for i in range(50)],
        "doc_id long, band int, sig string",
    )
    base.write.mode("overwrite").parquet(str(tmp_path / "bands"))
    base_b = spark.read.parquet(str(tmp_path / "bands"))
    new_b = spark.createDataFrame(
        [(100, 0, "s0"), (101, 1, "s1")], "doc_id long, band int, sig string"
    )
    counts = dedup.update_bucket_counts(None, base_b)
    counts_tbl = spark.createDataFrame(
        counts.collect(), "band int, sig string, n long"
    )  # the persisted census a real caller would maintain
    pairs, _ = dedup.incremental_band_pairs_maintained(
        base_b, new_b, counts_tbl, bucket_cap=4
    )
    p = plan_str(pairs, "simple")
    assert p.count("Scan parquet") == 1  # join input only, no census scan
    # old path for contrast: the fresh census re-scans the base parquet
    # for the census AND embeds that census subtree in both anti-joins
    old = dedup.incremental_band_pairs(base_b, new_b, bucket_cap=4)
    assert plan_str(old, "simple").count("Scan parquet") > 1


def test_training_export_single_decontamination_pass(spark):
    """The decontamination scan (corpus 13-gram explode + broadcast
    probe) is the dominant cost of the whole export at corpus scale and
    must run EXACTLY ONCE per export. Round-3 shape ran it 4x: the
    pack/address branches consumed the resampled frame twice, and
    temperature_resample itself consumes its input twice (rates
    aggregation + rate join). Locked here: with persist_clean (default)
    the final plan contains ZERO gram explodes (they live behind the
    lazily-checkpointed clean doc_id RDD, materialized once), and
    without it the linear lineage bounds the re-runs to
    temperature_resample's two structural consumers — never the
    branch-induced 4."""
    from rapidfuzz_spark.textops import training
    from rapidfuzz_spark.textops.sampling import md5_uniform

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = d.where(md5_uniform("doc_id", "eval") < 0.05)
    df = training.training_export(d, ev, decontam_n=13, alpha=0.5)
    p = plan_str(df, "simple")
    assert p.count("Generate explode") == 0
    assert "Scan ExistingRDD" in p  # the checkpointed clean doc_id list
    lazy = training.training_export(
        d, ev, decontam_n=13, alpha=0.5, persist_clean=False
    )
    lp = plan_str(lazy, "simple")
    # 2 consumers x (corpus grams + eval grams) = 4 explodes max; the
    # old branched shape doubled this to 8
    assert lp.count("Generate explode") <= 4


def test_temperature_resample_corpus_map_only(spark):
    """Rates are a broadcast-joined tiny frame; the corpus itself must
    flow scan -> filter -> broadcast join with zero corpus-side
    exchanges."""
    from rapidfuzz_spark.textops import training

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = training.temperature_resample(d, alpha=0.5)
    p = plan_str(df, "simple")
    assert "BroadcastHashJoin" in p
    # everything above the broadcast join build side is the corpus path
    corpus_path = p.split("BroadcastExchange")[0]
    assert "Exchange" not in corpus_path


def test_decontamination_report_single_corpus_gram_pass(spark):
    """The fused 4-rule report exists to collapse four corpus gram
    explodes into ONE: the plan must contain exactly one corpus-side
    Generate posexplode (positions + hashes for every rule), exactly one
    eval-side Generate explode (the tiny gram set), and a broadcast
    probe — the shape that makes multi-rule decontamination a single
    corpus-dominating stage instead of four at 10^12 docs."""
    from rapidfuzz_spark.textops import training
    from rapidfuzz_spark.textops.sampling import md5_uniform

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = d.where(md5_uniform("doc_id", "eval") < 0.05)
    df = training.decontamination_report(d, ev, n=13, max_frac=0.05)
    p = plan_str(df, "simple")
    assert p.count("Generate posexplode") == 1  # THE corpus gram pass
    assert p.count("Generate explode") == 1  # eval gram set only
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_substring_contamination_verification_broadcasts_candidates(spark):
    """The verification join-back must BROADCAST the candidate side
    (anchor matches — vanishing by the lossless-prefilter argument): if
    it ever became a hash join on doc_id it would shuffle the corpus
    text. Locked explicitly instead of trusting AQE's estimate of a
    multi-join subtree."""
    from rapidfuzz_spark.textops import training
    from rapidfuzz_spark.textops.sampling import md5_uniform

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = d.where(md5_uniform("doc_id", "eval") < 0.05)
    df = training.substring_contamination(d, ev, anchor_n=8)
    p = plan_str(df, "simple")
    # the Contains() verification runs over the output of the join back
    # that brings the text to the per-doc candidates: that join must be
    # a BroadcastHashJoin building the candidate side, never a
    # sort-merge or shuffled join that would shuffle the text on doc_id
    back = [ln for ln in p.splitlines() if "LeftOuter" in ln]
    assert back, "join back not found in plan"
    assert all("BroadcastHashJoin" in ln and "BuildRight" in ln for ln in back)
    assert "Contains(" in p and p.index("Contains(") < p.index("LeftOuter")
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # and the anchor probe itself is broadcast too
    assert p.count("BroadcastHashJoin") >= 2


def test_salted_token_join_no_extra_corpus_shuffle(spark):
    """salt_hot_tokens adds two broadcast joins (the hot list) and keys
    the main join on (token, salt) — it must NOT add a corpus-side
    exchange beyond the one token-key shuffle the unsalted join has."""
    from rapidfuzz_spark.textops import quality

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    salted = quality.unigram_logprob(d, salt_hot=(8, 100))
    p = plan_str(salted, "simple")
    assert "CartesianProduct" not in p or p.count("CartesianProduct") == 0
    # the broadcast of the hot head appears at least twice (probe+build)
    assert p.count("BroadcastExchange") >= 2


def test_training_export_multi_rule_single_gram_pass(spark):
    """The multi-rule export must inherit decontamination_report's
    one-corpus-pass property: with the default lazy checkpoint the
    final plan has ZERO gram explodes (they live behind the narrow
    checkpointed clean list), and fully lazy the corpus gram pass is
    bounded by temperature_resample's two structural consumers — never
    one pass per rule (3 rules + excision would be 4x otherwise)."""
    from rapidfuzz_spark.textops import training
    from rapidfuzz_spark.textops.sampling import md5_uniform

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = d.where(md5_uniform("doc_id", "eval") < 0.05)
    kw = dict(
        decontam_n=13, alpha=0.5,
        decontam_rules=("minhit", "fraction", "substring"),
        excise=True, max_frac=0.05,
    )
    df = training.training_export(d, ev, **kw)
    p = plan_str(df, "simple")
    assert p.count("Generate posexplode") == 0
    assert p.count("Generate explode") == 0
    assert "Scan ExistingRDD" in p  # the checkpointed clean list
    lazy = training.training_export(d, ev, persist_clean=False, **kw)
    lp = plan_str(lazy, "simple")
    # 2 resample consumers x (1 corpus posexplode + 1 eval explode)
    assert lp.count("Generate posexplode") <= 2
    assert lp.count("Generate explode") <= 2


def test_simhash_sketch_map_only(spark):
    """The SimHash sketch is a pure projection: the token set already
    sits on the row, so the hash material + 64 majority votes fold
    map-side with nested higher-order functions — ZERO exchanges. (The
    exploded (doc, token, pos) formulation shuffled corpus_tokens x bits
    rows through two hash aggregates; this test pins the shuffle-free
    shape that replaced it.)"""
    from rapidfuzz_spark.textops import dedup

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_str(dedup.simhash(d, bits=64), "simple")
    assert "Exchange" not in p and "HashAggregate" not in p


def test_simhash_neardup_single_banded_join(spark):
    """The pair stage must be one equi-join on (band, key) — never a
    cartesian/nested-loop — plus the pair dedup; with the map-only
    sketch the whole operator carries at most two exchanges."""
    from rapidfuzz_spark.textops import dedup

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan_str(
        dedup.simhash_near_duplicates(d, bits=64, max_hamming=3), "simple"
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert p.count("Exchange") - p.count("BroadcastExchange") <= 2


def test_meta_block_wep_mean_broadcast_no_window(spark, docs):
    """WEP's global mean must attach via a broadcast of the 1-row
    aggregate (never a shuffle or a window over edge rows), and the CBS
    aggregation must be a plain hash aggregate — the same exchange shape
    pair-dedup already pays."""
    from rapidfuzz_spark.pipeline import blocking

    keys = docs.select(
        F.explode(F.array_distinct(F.split("text", " "))).alias("block_key"),
        "doc_id",
    ).where(F.length("block_key") >= 2)
    p = plan_str(blocking.meta_block_wep(keys))
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_meta_block_wnp_no_window_no_cartesian(spark, docs):
    """WNP's per-node thresholds must come from a hash aggregate over
    the exploded endpoint rows and re-attach via equi-joins on the edge
    keys — never a window over edges, never a cartesian."""
    from rapidfuzz_spark.pipeline import blocking

    keys = docs.select(
        F.explode(F.array_distinct(F.split("text", " "))).alias("block_key"),
        "doc_id",
    ).where(F.length("block_key") >= 2)
    p = plan_str(blocking.meta_block_wnp(keys))
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_meta_block_cnp_window_is_node_partitioned(spark, docs):
    """CNP's top-k must run as a window PARTITIONED BY the node (one
    hash exchange over directed endpoint rows), never a global sort or
    a cartesian."""
    from rapidfuzz_spark.pipeline import blocking

    keys = docs.select(
        F.explode(F.array_distinct(F.split("text", " "))).alias("block_key"),
        "doc_id",
    ).where(F.length("block_key") >= 2)
    p = plan_str(blocking.meta_block_cnp(keys, k=2))
    # partitioned window: the spec's first argument is the src node
    # column (a global window would have an empty partition list and
    # move all rows to one task)
    assert "windowspecdefinition(src" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_golden_records_windowless_aggregate_survivorship(spark, docs):
    """The representative and every field mode are max-then-filter
    aggregates: no Window (a per-entity row_number would sort doc rows
    inside each cluster partition), no cartesian."""
    from rapidfuzz_spark.pipeline import cluster

    assigned = docs.withColumn("entity_id", F.col("doc_id") % 50)
    p = plan_str(
        cluster.golden_records(assigned, fields=["lang", "source"])
    )
    assert "Window" not in p
    assert "CartesianProduct" not in p


def _plan_nodes(node):
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _above_aggregate(node) -> bool:
    """True iff every path from this logical-plan node down to a leaf
    passes an Aggregate: the rows it carries are groups, not docs."""
    if node.nodeName() == "Aggregate":
        return True
    kids = node.children()
    return kids.size() > 0 and all(
        _above_aggregate(kids.apply(i)) for i in range(kids.size())
    )


def test_bcubed_aggregates_cells_not_docs(spark, docs):
    """The contingency core that B-cubed, V-measure, ARI and pairwise F1
    read (metrics._cells over metrics._contingency) joins cluster-level
    rows only: both inputs of each join sit above an Aggregate, so no
    doc-level frame is joined with itself on a cluster label (the pair
    expansion), and nothing in the plan is a window or cartesian — the
    property that keeps it one row per cell at 10^12 docs."""
    from rapidfuzz_spark.pipeline import metrics

    assign = docs.select(
        (F.col("doc_id") % 37).alias("pred"), F.col("source").alias("truth")
    )
    cells = metrics._cells(assign)
    p = plan_str(cells)
    assert "Window" not in p and "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    plan = cells._jdf.queryExecution().optimizedPlan()
    joins = [n for n in _plan_nodes(plan) if n.nodeName() == "Join"]
    assert len(joins) == 2, plan.toString()
    for j in joins:
        kids = j.children()
        assert all(_above_aggregate(kids.apply(i)) for i in range(2)), j.toString()
    # the pair sums read the cube aggregate itself, with no join at all
    cube = metrics._contingency(assign)._jdf.queryExecution().optimizedPlan()
    assert not [n for n in _plan_nodes(cube) if n.nodeName() == "Join"]
    # the check has teeth: a pair expansion's join sees doc rows
    a, b = assign.alias("a"), assign.alias("b")
    expand = a.join(b, F.col("a.pred") == F.col("b.pred"))
    top = expand._jdf.queryExecution().optimizedPlan()
    join = [n for n in _plan_nodes(top) if n.nodeName() == "Join"][0]
    assert not _above_aggregate(join.children().apply(0))


def test_monge_elkan_pure_codegen(spark, docs):
    """Monge-Elkan's default inner metric is the JVM levenshtein: the
    whole plan must be Python-free (no Arrow, no row UDFs) and
    cartesian-free — the per-pair token cross product is an EQUI-join
    on the pair ids."""
    from rapidfuzz_spark.textops.softtfidf import monge_elkan_pairs

    pairs = docs.limit(20).select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("text").alias("t1"),
        F.concat(F.col("doc_id"), F.lit("_r")).alias("doc_id_2"),
        F.reverse("text").alias("t2"),
    )
    p = plan_str(monge_elkan_pairs(pairs))
    assert "BatchEvalPython" not in p, p
    assert "ArrowEvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_edjoin_cartesian_bounded_to_value_bucket(spark, docs):
    """The ONLY cartesian in an Ed-Join plan is the short-string
    bucket's distinct-VALUE product (coalesced to 1 partition);
    the gram path must be equi-joins, and the verify must be one
    Arrow-batched kernel eval."""
    from rapidfuzz_spark.textops.edjoin import (
        edit_distance_join,
        edit_distance_join_rs,
    )

    d = docs.limit(50)
    for df in (
        edit_distance_join(d, "text", k=2, prefix_chars=24),
        edit_distance_join_rs(d, d.limit(10), "text", k=2, prefix_chars=24),
    ):
        p = plan_str(df, "simple")  # formatted prints each node twice
        n_cart = p.count("CartesianProduct") + p.count("BroadcastNestedLoopJoin")
        assert n_cart <= 1, p
        assert "BatchEvalPython" not in p, p  # verify is Arrow, not row


def test_dsir_lambda_broadcast(spark, docs):
    """DSIR's per-doc scoring joins the bucket λ table as a BROADCAST
    hash join (the table is buckets-sized); the gram streams stay pure
    Catalyst."""
    from rapidfuzz_spark.textops.sampling import md5_uniform
    from rapidfuzz_spark.textops.training import dsir_weights

    d = docs.limit(100)
    tgt = d.where(md5_uniform("doc_id", "eval") < 0.3)
    p = plan_str(dsir_weights(d, tgt, buckets=64))
    assert "BroadcastHashJoin" in p, p
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p


def _ancestor_ops(plan: str, needle: str) -> list[str]:
    """Operator names on the path from the (unique) line containing
    ``needle`` up to the plan root, using the tree-art indentation of
    explain('simple') — the textual equivalent of 'walk the parents'."""
    lines = plan.splitlines()
    hits = [i for i, ln in enumerate(lines) if needle in ln]
    assert len(hits) == 1, f"expected one {needle!r} line, got {len(hits)}"

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-*("))

    i = hits[0]
    d = depth(lines[i])
    ops = []
    for j in range(i - 1, -1, -1):
        dj = depth(lines[j])
        if lines[j].strip() and dj < d:
            ops.append(lines[j].strip())
            d = dj
    return ops


def test_incremental_cc_base_broadcast_never_shuffled(spark, tmp_path):
    """The maintained assignment table (10^12 rows at scale) may appear
    in the increment's final plan exactly once — as the STREAMED side of
    a broadcast remap join — with NO Exchange/Sort/Aggregate anywhere on
    its root path. Every shuffle in the plan must be batch-sized. This
    is the contract that makes per-increment cost O(batch), not O(base).
    """
    from rapidfuzz_spark.pipeline import cluster

    base = spark.createDataFrame(
        [(f"d{i:03d}", f"d{(i // 3) * 3:03d}") for i in range(60)],
        "doc_id string, entity_id string",
    )
    base.write.mode("overwrite").parquet(str(tmp_path / "assign"))
    assign = spark.read.parquet(str(tmp_path / "assign"))
    new_e = spark.createDataFrame(
        [("d001", "d010"), ("n001", "d020")], "doc_id_1 string, doc_id_2 string"
    )
    out = cluster.incremental_connected_components(assign, new_e)
    p = plan_str(out, "simple")
    # base scanned exactly once in the final plan (the endpoint lookup
    # ran under the eager batch-sized checkpoint, not here)
    assert p.count("Scan parquet") == 1
    path = _ancestor_ops(p, "Scan parquet")
    joined = " | ".join(path)
    assert "BroadcastHashJoin" in path[0] or "BroadcastHashJoin" in joined
    for op in path:
        assert not op.startswith("Exchange"), f"base lineage shuffled: {op}"
        assert not op.startswith("Sort"), f"base lineage sorted: {op}"
        assert "Aggregate" not in op, f"base lineage aggregated: {op}"
