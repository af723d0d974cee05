"""Pipeline end-to-end tests on the synthesized interleaved corpus:
F1 gates, span-sequence invariant, resume-after-interrupt idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rapidfuzz_spark.pipeline import (
    PipelineConfig,
    blocking,
    cluster,
    ingest,
    metrics,
    run_pipeline,
    scoring,
    synth,
)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = synth.synth_documents(spark, n_entities=300, seed=42).cache()
    docs.count()
    return docs


def test_synth_deterministic_across_parallelism(spark):
    a = synth.synth_documents(spark, 50, seed=7).orderBy("doc_id").collect()
    b = (
        synth.synth_documents(spark, 50, seed=7)
        .repartition(13)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b
    assert len(a) > 50


def test_match_text_projection_preserves_spans(spark, corpus):
    docs_t = ingest.with_match_text(corpus)
    # spans column must be byte-identical to the input
    before = corpus.select("doc_id", "spans")
    after = docs_t.select("doc_id", "spans")
    assert before.exceptAll(after).isEmpty() and after.exceptAll(before).isEmpty()
    # match_text = text spans only, in offset order
    row = docs_t.where(F.size("spans") > 2).select("spans", "match_text").first()
    texts = [s.text for s in sorted(row.spans, key=lambda s: s.offset) if s.kind == "text"]
    assert row.match_text == " ".join(texts)


def test_load_documents_dispatch(spark, corpus, tmp_path):
    """load_documents reads filesystem paths as parquet and bare
    identifiers through spark.read.table (the DSv2/Iceberg entry point)."""
    p = str(tmp_path / "docs_pq")
    corpus.write.parquet(p)
    by_path = ingest.load_documents(spark, p)
    assert by_path.count() == corpus.count()
    corpus.createOrReplaceTempView("docs_cat_tbl")
    by_table = ingest.load_documents(spark, "docs_cat_tbl")
    assert by_table.count() == corpus.count()
    assert by_table.schema == corpus.schema
    by_forced = ingest.load_documents(spark, p, source_format="parquet")
    assert by_forced.count() == corpus.count()


def test_load_documents_bare_relative_parquet_path(spark, corpus, tmp_path, monkeypatch):
    """A bare relative path (no separator) that exists on disk is read as
    parquet under 'auto' — not mistaken for a catalog table identifier."""
    monkeypatch.chdir(tmp_path)
    corpus.write.parquet(str(tmp_path / "docs_out"))
    got = ingest.load_documents(spark, "docs_out")
    assert got.count() == corpus.count()


def test_load_documents_nonparquet_dir_does_not_shadow_table(
    spark, corpus, tmp_path, monkeypatch
):
    """A cwd directory that merely shares a catalog table's name (and does
    NOT look like parquet output) must not silently shadow the table —
    that's a data misroute (ADVICE r2). The probe requires part files /
    .parquet / _SUCCESS."""
    monkeypatch.chdir(tmp_path)
    (tmp_path / "docs_cat_tbl2").mkdir()
    (tmp_path / "docs_cat_tbl2" / "notes.txt").write_text("not data")
    corpus.createOrReplaceTempView("docs_cat_tbl2")
    with pytest.warns(UserWarning, match="does not look like parquet"):
        got = ingest.load_documents(spark, "docs_cat_tbl2")
    assert got.count() == corpus.count()  # read the TABLE, not the dir


def test_load_documents_hive_partitioned_bare_path(
    spark, corpus, tmp_path, monkeypatch
):
    """A hive-partitioned parquet dataset (ONLY key=value subdirs below
    the root — what pyarrow write_to_dataset / DuckDB partitioned COPY
    produce, no top-level part files or _SUCCESS) must still be
    recognized as parquet by the bare-name probe, not misrouted to a
    catalog-table lookup."""
    monkeypatch.chdir(tmp_path)
    corpus.limit(20).withColumn("pt", F.lit("a")).write.partitionBy(
        "pt"
    ).parquet(str(tmp_path / "docs_hive"))
    # strip the _SUCCESS/.crc markers Spark writes — pyarrow/DuckDB don't
    for n in (tmp_path / "docs_hive").iterdir():
        if n.is_file():
            n.unlink()
    for n in (tmp_path / "docs_hive").iterdir():
        assert n.is_dir() and "=" in n.name  # layout under test
    got = ingest.load_documents(spark, "docs_hive")
    assert got.count() == 20


def test_blocking_recall(spark, corpus):
    """Every true duplicate pair must share >= 1 blocking key (recall gate)."""
    docs_t = ingest.with_match_text(corpus)
    _, labels = synth.truth_tables(corpus)
    keys = blocking.blocking_keys(docs_t)
    pairs = blocking.candidate_pairs(
        keys, extra_pairs=blocking.sorted_neighborhood_pairs(docs_t)
    )
    found = labels.join(pairs, ["doc_id_1", "doc_id_2"], "left_semi").count()
    total = labels.count()
    assert total > 200
    assert found / total >= 0.98, f"blocking recall {found}/{total}"


def test_fused_blocking_keys_match_per_pass_union(spark, corpus):
    """blocking_keys builds all passes in one narrow projection+explode;
    its output must equal the union of the per-pass generators exactly
    (same multiset — all passes are per-doc distinct)."""
    docs_t = ingest.with_match_text(corpus)
    fused = blocking.blocking_keys(docs_t)
    union = (
        blocking.token_keys(docs_t)
        .unionByName(blocking.prefix_keys(docs_t))
        .unionByName(blocking.token_affix_keys(docs_t))
    )
    assert fused.exceptAll(union).isEmpty()
    assert union.exceptAll(fused).isEmpty()


def test_sorted_neighborhood_pairs_match_keyed_path(spark, corpus):
    """The direct window-lead SN pair generator must produce exactly the
    pair set the sn-key + generic self-join path produces (incl. unusual
    windows), since run_pipeline now uses the direct path."""
    docs_t = ingest.with_match_text(corpus)
    for window in (1, 3, 5):
        keys = blocking.sorted_neighborhood_keys(docs_t, window=window)
        via_join = blocking.candidate_pairs(keys)
        direct = blocking.sorted_neighborhood_pairs(docs_t, window=window).dropDuplicates(
            ["doc_id_1", "doc_id_2"]
        )
        assert via_join.exceptAll(direct).isEmpty()
        assert direct.exceptAll(via_join).isEmpty()


def test_deletion_sig_covers_every_single_edit(spark):
    """Tokens within Levenshtein distance 1 — and adjacent swaps — always
    share a del<=1 signature key, for every edit position (the property
    token_deletion_keys' recall claim rests on)."""
    import random

    rng = random.Random(7)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    base = ["kxqvjwz", "hlcrzkx", "wmvbzbf", "abcdefgh"]
    variants = []
    for tok in base:
        variants.append((tok, tok + rng.choice(alpha)))  # append (ins at end)
        for i in range(len(tok)):
            variants.append((tok, tok[:i] + rng.choice(alpha) + tok[i + 1 :]))  # sub
            variants.append((tok, tok[:i] + tok[i + 1 :]))  # del
            variants.append((tok, tok[:i] + rng.choice(alpha) + tok[i:]))  # ins
            if i + 1 < len(tok):
                variants.append(
                    (tok, tok[:i] + tok[i + 1] + tok[i] + tok[i + 2 :])
                )  # swap
    rows = [(f"a{i}", a, f"b{i}", b) for i, (a, b) in enumerate(variants)]
    df = spark.createDataFrame(rows, "ida string, ta string, idb string, tb string")
    left = blocking.token_deletion_keys(
        df.select(F.col("ida").alias("doc_id"), F.col("ta").alias("norm_text"))
    )
    right = blocking.token_deletion_keys(
        df.select(F.col("idb").alias("doc_id"), F.col("tb").alias("norm_text"))
    )
    hit = (
        left.withColumn("i", F.expr("substring(doc_id, 2)"))
        .join(
            right.withColumn("i", F.expr("substring(doc_id, 2)")),
            ["block_key", "i"],
            "inner",
        )
        .select("i")
        .distinct()
        .count()
    )
    assert hit == len(rows), f"only {hit}/{len(rows)} edit variants share a sig"


def test_deletion_sig_df_cap_monotone(spark):
    """DF-prefiltered sig generation (df_cap = drop_cap) yields a
    SUPERSET of the unfiltered pair set (see token_deletion_keys):
    nothing is lost (rows removed by the filter belong to keys the
    census drops anyway), and pairs are gained exactly where a rare
    token's del<=1 neighborhood collides with a hot token's signature.
    'commontok' (12 docs > drop_cap 5) binds the cap; hot 'smith' vs
    rare 'smiths'/'smitha' is the collision: all three emit 'e:smith',
    so unfiltered the key counts 14 > 5 and dies, filtered it counts 2
    and pairs y1-y2."""
    rows = [(f"d{i:02d}", f"commontok rare{i:02d}xx smith") for i in range(12)]
    rows += [
        ("x1", "commontok jessica"),
        ("x2", "commontok jesicca"),
        ("y1", "aaaa smiths"),
        ("y2", "bbbb smitha"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, norm_text string")
    docs = docs.withColumn("canon_text", F.col("norm_text"))
    base = blocking.blocking_keys(docs)
    full = base.unionByName(blocking.token_deletion_keys(docs))
    filt = base.unionByName(blocking.token_deletion_keys(docs, df_cap=5))
    # the cap must actually remove generation work...
    assert filt.count() < full.count()
    pairs_full = blocking.candidate_pairs(full, hot_cap=3, drop_cap=5)
    pairs_filt = blocking.candidate_pairs(filt, hot_cap=3, drop_cap=5)
    # ...never losing a pair (superset direction)
    assert pairs_full.exceptAll(pairs_filt).isEmpty()
    # the del<=1 recall carrier still works through the filtered path
    assert (
        pairs_filt.where(
            (F.col("doc_id_1") == "x1") & (F.col("doc_id_2") == "x2")
        ).count()
        == 1
    )
    # and the gained pairs are exactly the hot-collision neighborhood:
    # y1-y2 share only 'e:smith', censored unfiltered, alive filtered
    extra = {
        (r.doc_id_1, r.doc_id_2)
        for r in pairs_filt.exceptAll(pairs_full).collect()
    }
    assert extra == {("y1", "y2")}, extra


def test_media_ref_keys_propose_pairs(spark):
    """Docs embedding the same media object become candidates via 'mr:'
    keys; text-only docs and null media_refs contribute nothing; scoring
    still gates the edge (media co-occurrence alone never merges)."""
    spans_schema = (
        "doc_id string, spans array<struct"
        "<kind:string,text:string,media_ref:string,offset:int>>"
    )
    rows = [
        ("a", [("text", "alpha beta", None, 0), ("image", None, "m://X", 1)]),
        ("b", [("image", None, "m://X", 0), ("text", "totally different", None, 1)]),
        ("c", [("text", "no media here", None, 0)]),
        ("d", [("audio", None, None, 0), ("text", "null ref", None, 1)]),
        # kind NULL with a ref set must still key (null-safe kind test)
        ("e", [(None, None, "m://Y", 0), ("text", "null kind", None, 1)]),
    ]
    docs = spark.createDataFrame(rows, spans_schema)
    keys = blocking.media_ref_keys(docs)
    got = {(r.block_key, r.doc_id) for r in keys.collect()}
    assert got == {("mr:m://X", "a"), ("mr:m://X", "b"), ("mr:m://Y", "e")}
    pairs = blocking.candidate_pairs(keys, hot_cap=10, drop_cap=100)
    assert [(r.doc_id_1, r.doc_id_2) for r in pairs.collect()] == [("a", "b")]


def test_sorted_neighborhood_pairs_no_self_pairs_on_dup_doc_ids(spark, corpus):
    """Duplicate doc_id rows (a malformed input) must not yield self-pairs:
    the keyed path excluded them via the join's strict doc_id_l < doc_id_r,
    and the direct path must match."""
    docs_t = ingest.with_match_text(corpus).limit(50)
    dup = docs_t.unionAll(docs_t)  # every doc_id twice
    pairs = blocking.sorted_neighborhood_pairs(dup, window=3)
    assert pairs.where(F.col("doc_id_1") == F.col("doc_id_2")).isEmpty()


def test_end_to_end_f1(spark, corpus, tmp_path):
    entities = run_pipeline(
        spark,
        corpus.select("doc_id", "spans"),
        str(tmp_path / "out"),
        PipelineConfig(threshold=0.85, checkpoint=False),
    )
    truth = corpus.select("doc_id", "entity_id")
    res = metrics.cluster_pairwise_f1(
        entities.select("doc_id", "entity_id"), truth
    )
    assert res["f1"] >= 0.95, res
    # hand-counted: truth a = {a1,a2,a3} split into {a1,a2} + {a3};
    # truth b = {b1,b2} and c = {c1,c2,c3} merged into one cluster.
    # truth pairs 3 + 1 + 3 = 7, predicted 1 + 10 = 11; shared: a1-a2,
    # b1-b2 and the 3 c pairs -> tp 5, fp 11 - 5 = 6, fn 7 - 5 = 2
    ents = "a1 a a1|a2 a a1|a3 a a3|b1 b b|b2 b b|c1 c b|c2 c b|c3 c b"
    rows = [tuple(r.split()) for r in ents.split("|")]
    hand = spark.createDataFrame(rows, "doc_id string, truth string, pred string")
    res = metrics.cluster_pairwise_f1(
        hand.select("doc_id", F.col("pred").alias("entity_id")),
        hand.select("doc_id", F.col("truth").alias("entity_id")),
    )
    assert (res["tp"], res["fp"], res["fn"]) == (5, 6, 2), res
    assert res["f1"] == 2 * 5 / (2 * 5 + 6 + 2)
    # span invariant end-to-end
    joined = (
        entities.select("doc_id", "spans")
        .exceptAll(corpus.select("doc_id", "spans"))
        .isEmpty()
    )
    assert joined


def test_surrogate_ids_identical_entities(spark, corpus, tmp_path):
    """The order-preserving long-surrogate path (PipelineConfig.
    surrogate_ids, the default) must produce BIT-IDENTICAL entity
    assignments to the plain string-id path: the mapping is built by a
    global sort, so pair orientation, SN tie-breaks, and CC's min-root
    are order-isomorphic and decoding is exact."""
    docs = corpus.select("doc_id", "spans")
    outs = []
    for sur in (True, False):
        ents = run_pipeline(
            spark,
            docs,
            str(tmp_path / f"out_sur_{sur}"),
            PipelineConfig(threshold=0.85, checkpoint=False, surrogate_ids=sur),
        )
        outs.append(ents.select("doc_id", "entity_id"))
    assert outs[0].exceptAll(outs[1]).isEmpty()
    assert outs[1].exceptAll(outs[0]).isEmpty()
    # the surrogate path must hand back string ids, not leak the longs
    assert dict(outs[0].dtypes) == {"doc_id": "string", "entity_id": "string"}


def test_pairwise_f1_vs_oracle(spark, corpus):
    """BASELINE gate: decisions on candidate pairs vs the scalar
    reference-parity oracle, F1 >= 0.99 (it is 1.0 by construction)."""
    docs_t = ingest.with_match_text(corpus)
    keys = blocking.blocking_keys(docs_t)
    pairs = blocking.candidate_pairs(
        keys, extra_pairs=blocking.sorted_neighborhood_pairs(docs_t)
    )
    pairs_t = scoring.attach_texts(pairs, docs_t)
    scored = pairs_t.withColumn(
        "score",
        scoring.SCORERS["ratio"]("text_1", "text_2", score_cutoff=0.85),
    )
    res = metrics.pairwise_f1_vs_oracle(scored, "ratio", 0.85)
    assert res["f1"] >= 0.99, res
    assert res["fp"] == 0 and res["fn"] == 0  # exact parity expected


def test_resume_after_interrupt(spark, corpus, tmp_path):
    """Interrupted run resumes without rescoring completed buckets and
    produces identical entities."""
    out1 = str(tmp_path / "interrupted")
    conf = PipelineConfig(threshold=0.85, n_buckets=8, checkpoint=True, run_id="r1")
    docs = corpus.select("doc_id", "spans")
    # run 1: die after 3 buckets
    run_pipeline(spark, docs, out1, conf, fail_after_buckets=3)
    ledger1 = spark.read.parquet(out1 + "/ledger")
    assert ledger1.select("bucket").distinct().count() == 3
    # run 2: resume to completion
    conf2 = PipelineConfig(threshold=0.85, n_buckets=8, checkpoint=True, run_id="r2")
    ent2 = run_pipeline(spark, docs, out1, conf2)
    ledger2 = spark.read.parquet(out1 + "/ledger")
    # no bucket scored twice
    per_bucket = ledger2.groupBy("bucket").count().collect()
    assert len(per_bucket) == 8 and all(r["count"] == 1 for r in per_bucket)
    # first 3 buckets still credited to run r1 (not rescored)
    runs = {r.bucket: r.run_id for r in ledger2.select("bucket", "run_id").collect()}
    assert sum(1 for v in runs.values() if v == "r1") == 3
    # entities identical to an uninterrupted run
    out2 = str(tmp_path / "clean")
    ent_clean = run_pipeline(
        spark, docs, out2, PipelineConfig(threshold=0.85, n_buckets=8, run_id="c")
    )
    d = ent2.select("doc_id", "entity_id").exceptAll(
        ent_clean.select("doc_id", "entity_id")
    )
    assert d.isEmpty()


def test_resume_rejects_mismatched_job_config(spark, corpus, tmp_path):
    """Reusing an out_dir whose ledger was written with a different
    metric/threshold must fail loudly, not silently return the old
    run's edges as 'done'."""
    import pytest as _pytest

    out = str(tmp_path / "mismatch")
    docs = corpus.select("doc_id", "spans")
    run_pipeline(
        spark, docs, out,
        PipelineConfig(threshold=0.85, n_buckets=4, checkpoint=True),
        fail_after_buckets=2,
    )
    with _pytest.raises(ValueError, match="different"):
        run_pipeline(
            spark, docs, out,
            PipelineConfig(threshold=0.70, n_buckets=4, checkpoint=True),
        )


def test_resume_raises_on_corrupt_ledger(spark, tmp_path):
    """Only a missing ledger means "nothing scored yet": an unreadable
    one must fail the run instead of re-scoring over existing output."""
    import os

    out = str(tmp_path / "corrupt")
    os.makedirs(os.path.join(out, "ledger"))
    with open(os.path.join(out, "ledger", "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    pairs = spark.createDataFrame(
        [("a", "b", "acme corp", "acme corp.")],
        "doc_id_1 string, doc_id_2 string, text_1 string, text_2 string",
    )
    with pytest.raises(Exception, match="FOOTER"):
        scoring.score_with_checkpoint(spark, pairs, out, n_buckets=2)
    assert not os.path.exists(os.path.join(out, "edges"))


def test_resume_rejects_changed_corpus_id_map(spark, corpus, tmp_path):
    """A checkpointed run pins its doc-id surrogate map in out_dir; a
    resume whose input is NOT the same doc set must fail loudly — the
    already-scored edge buckets carry the stored map's longs, and mixing
    id spaces would be silent corruption."""
    import pytest as _pytest

    out = str(tmp_path / "idmap_mismatch")
    docs = corpus.select("doc_id", "spans")
    run_pipeline(
        spark, docs, out,
        PipelineConfig(threshold=0.85, n_buckets=4, checkpoint=True),
        fail_after_buckets=2,
    )
    with _pytest.raises(ValueError, match="id_map"):
        run_pipeline(
            spark, docs.limit(100), out,
            PipelineConfig(threshold=0.85, n_buckets=4, checkpoint=True),
        )


def test_resume_rejects_id_space_flip(spark, corpus, tmp_path):
    """Buckets scored in one id space must not be resumed in the other:
    string-edge buckets + surrogate resume (no id_map to prove
    consistency) and long-edge buckets + surrogate_ids=False resume
    (id_map present but would be ignored) both fail loudly."""
    import pytest as _pytest

    docs = corpus.select("doc_id", "spans")
    # scored WITHOUT surrogates, resumed WITH (the default)
    out_a = str(tmp_path / "flip_a")
    run_pipeline(
        spark, docs, out_a,
        PipelineConfig(n_buckets=4, checkpoint=True, surrogate_ids=False),
        fail_after_buckets=2,
    )
    with _pytest.raises(ValueError, match="id_map"):
        run_pipeline(
            spark, docs, out_a,
            PipelineConfig(n_buckets=4, checkpoint=True, surrogate_ids=True),
        )
    # scored WITH surrogates, resumed WITHOUT
    out_b = str(tmp_path / "flip_b")
    run_pipeline(
        spark, docs, out_b,
        PipelineConfig(n_buckets=4, checkpoint=True, surrogate_ids=True),
        fail_after_buckets=2,
    )
    with _pytest.raises(ValueError, match="id_map"):
        run_pipeline(
            spark, docs, out_b,
            PipelineConfig(n_buckets=4, checkpoint=True, surrogate_ids=False),
        )


def test_surrogate_mapping_dedups_duplicate_doc_ids(spark, corpus, tmp_path):
    """Duplicate doc_id rows (malformed but tolerated input — see the
    sorted-neighborhood self-pair guard) must share ONE surrogate: two
    different longs for the same id would self-pair and self-merge where
    the string path produces no such pairs."""
    docs = corpus.select("doc_id", "spans").limit(60)
    dup = docs.unionAll(docs)
    outs = []
    for sur in (True, False):
        ents = run_pipeline(
            spark, dup, str(tmp_path / f"dup_{sur}"),
            PipelineConfig(threshold=0.85, checkpoint=False, surrogate_ids=sur),
        )
        outs.append(ents.select("doc_id", "entity_id"))
    assert outs[0].exceptAll(outs[1]).isEmpty()
    assert outs[1].exceptAll(outs[0]).isEmpty()
    # checkpointed resume over a dup-id corpus: the id_map stores DISTINCT
    # ids while the input has duplicate rows — the corpus-identity check
    # must compare SETS, not row counts, or this (tolerated) input can
    # never resume
    out = str(tmp_path / "dup_resume")
    run_pipeline(
        spark, dup, out,
        PipelineConfig(threshold=0.85, n_buckets=4, checkpoint=True),
        fail_after_buckets=2,
    )
    ents = run_pipeline(
        spark, dup, out,
        PipelineConfig(threshold=0.85, n_buckets=4, checkpoint=True),
    )
    assert ents.select("doc_id", "entity_id").exceptAll(outs[0]).isEmpty()


def test_textless_docs_do_not_merge(spark, tmp_path):
    """Docs with no text evidence (media-only spans) must not cluster
    with each other: ratio('','') is 1.0 by kernel definition, so the
    empty-text guard in score_pairs has to drop those pairs before they
    become edges."""
    spans_schema = (
        "doc_id string, spans array<struct"
        "<kind:string,text:string,media_ref:string,offset:int>>"
    )
    rows = [
        ("m1", [("image", None, "m://A", 0)]),
        ("m2", [("image", None, "m://B", 0)]),
        ("m3", [("audio", None, "m://C", 0)]),
        ("t1", [("text", "unrelated words here", None, 0)]),
    ]
    docs = spark.createDataFrame(rows, spans_schema)
    ents = run_pipeline(
        spark,
        docs,
        str(tmp_path / "textless"),
        PipelineConfig(threshold=0.85, checkpoint=False),
    )
    got = {r.doc_id: r.entity_id for r in ents.collect()}
    assert len(set(got.values())) == 4, got  # nobody merged


def test_len_prune_matches_score_prefilter(spark):
    """The pre-dedup length prune (candidate_pairs len_frac over the keys'
    carried tlen) must yield EXACTLY the edges of the unpruned path — the
    pairs it removes are the ones score_pairs' length prefilter discards
    post-attach. Scored edges, not just pair counts."""
    from rapidfuzz_spark.pipeline import synth
    from rapidfuzz_spark.pipeline.run import PipelineConfig, pipeline_blocking_keys
    from rapidfuzz_spark.pipeline.scoring import attach_texts, score_pairs

    corpus = synth.synth_documents(spark, n_entities=60, seed=9).drop("entity_id")
    docs_t = ingest.with_match_text(corpus).cache()
    conf = PipelineConfig(metric="ratio", threshold=0.8, drop_cap=500)
    thr = 0.8

    def edges(len_frac, carry):
        keys = pipeline_blocking_keys(docs_t, conf, carry_len=carry)
        pairs = blocking.candidate_pairs(
            keys, hot_cap=50, drop_cap=500, len_frac=len_frac
        )
        e = score_pairs(attach_texts(pairs, docs_t), metric="ratio", threshold=thr)
        return {(r.doc_id_1, r.doc_id_2, round(r.score, 9)) for r in e.collect()}

    pruned = edges(1.0 - thr, True)
    unpruned = edges(None, False)
    assert pruned == unpruned and len(pruned) > 0
    # and the prune actually removes pairs upstream (not a no-op)
    keys = pipeline_blocking_keys(docs_t, conf, carry_len=True)
    n_with = blocking.candidate_pairs(
        keys, hot_cap=50, drop_cap=500, len_frac=1.0 - thr
    ).count()
    keys2 = pipeline_blocking_keys(docs_t, conf, carry_len=False)
    n_without = blocking.candidate_pairs(keys2, hot_cap=50, drop_cap=500).count()
    assert n_with < n_without
    docs_t.unpersist()


def test_score_pairs_guard_without_len_columns(spark):
    """Callers that attach texts themselves (no len_1/len_2) must still get
    the both-empty-text guard — score_pairs computes the lengths itself
    rather than silently skipping the guard (ADVICE r2)."""
    from rapidfuzz_spark.pipeline.scoring import score_pairs

    pairs = spark.createDataFrame(
        [("a", "b", "", "", "", ""),
         ("c", "d", "same text", "same text", "same text", "same text")],
        "doc_id_1 string, doc_id_2 string, text_1 string, text_2 string,"
        "raw_1 string, raw_2 string",
    )
    got = {(r.doc_id_1, r.doc_id_2) for r in
           score_pairs(pairs, metric="ratio", threshold=0.8).collect()}
    assert got == {("c", "d")}  # the both-empty pair never scores 1.0


def test_threshold_outside_unit_interval_raises(spark, tmp_path):
    """Every scorer is a similarity in [0, 1]: a 0-100 threshold (or any
    other outside [0, 1]) is an error, not a run with no edges — and
    run_pipeline raises before it reads or writes out_dir."""
    pairs = spark.createDataFrame(
        [("a", "b", "same text", "same text")],
        "doc_id_1 string, doc_id_2 string, text_1 string, text_2 string",
    )
    docs = synth.synth_documents(spark, n_entities=5, seed=3)
    out = tmp_path / "out"
    for t in (85, 1.5, -0.1, float("nan")):
        with pytest.raises(ValueError, match="threshold"):
            scoring.score_pairs(pairs, metric="ratio", threshold=t)
        with pytest.raises(ValueError, match="threshold"):
            run_pipeline(spark, docs, str(out), PipelineConfig(threshold=t))
        assert not out.exists()
    for t in (0.0, 1.0):  # the bounds themselves are valid
        scoring.score_pairs(pairs, metric="ratio", threshold=t)


def test_incremental_link_soft_tfidf_jw(spark, corpus):
    """The shipped hybrid metric must work on the incremental path too:
    toks/idfs are attached from the base-catalog IDF, and exact
    duplicates link to their base record."""
    from rapidfuzz_spark.pipeline import incremental

    docs_t = ingest.with_match_text(corpus)
    base = docs_t.limit(50)
    base_ents = base.select("doc_id", F.col("doc_id").alias("entity_id"))
    # increment = copies of 5 base docs under new ids (exact text dups)
    inc = (
        corpus.join(base.select("doc_id"), "doc_id")
        .limit(5)
        .select(F.concat(F.lit("new_"), "doc_id").alias("doc_id"), "spans")
    )
    out = incremental.link_increment(
        inc,
        base,
        base_ents,
        PipelineConfig(metric="soft_tfidf_jw", threshold=0.76),
    )
    rows = out.collect()
    assert len(rows) == 5
    linked = [r for r in rows if r.matched_doc_id is not None]
    assert len(linked) == 5, rows
    # every exact duplicate links to a base record with IDENTICAL text
    # (ties between textually-equal base docs break on doc_id, so the
    # match may be a different doc than the copied one)
    canon = {
        r.doc_id: r.canon_text
        for r in docs_t.select("doc_id", "canon_text").collect()
    }
    for r in linked:
        assert canon[r.matched_doc_id] == canon[r.doc_id[len("new_"):]], r


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("q", "q2"), ("q2", "q3"), ("q3", "q")],
        ["doc_id_1", "doc_id_2"],
    )
    comp = {r.doc_id: r.entity_id for r in cluster.connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["q"] == comp["q2"] == comp["q3"] == "q"

def _path_edges(spark, n):
    return spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)],
        ["doc_id_1", "doc_id_2"],
    )


def test_connected_components_raises_when_not_converged(spark):
    with pytest.raises(RuntimeError, match="max_iter=1"):
        cluster.connected_components(_path_edges(spark, 32), max_iter=1)


def test_connected_components_path_converges_by_default(spark):
    comp = cluster.connected_components(_path_edges(spark, 32)).collect()
    assert len(comp) == 32
    assert {r.entity_id for r in comp} == {"n000"}


def test_hybrid_soft_tfidf_jw_f1(spark, corpus, tmp_path):
    """The precision-gated hybrid edge rule (soft_tfidf_jw) must clear the
    north-rule F1 gate on the synthesized corpus (0.9906 measured at 50k
    entities — BENCH.md §6; this is the small CI-sized gate)."""
    entities = run_pipeline(
        spark,
        corpus.select("doc_id", "spans"),
        str(tmp_path / "out_hybrid"),
        PipelineConfig(metric="soft_tfidf_jw", threshold=0.76, checkpoint=False),
    )
    truth = corpus.select("doc_id", "entity_id")
    res = metrics.cluster_pairwise_f1(
        entities.select("doc_id", "entity_id"), truth
    )
    assert res["f1"] >= 0.99, res


# ---------------------------------------------------------------- round 5b:
# meta-blocking, B-cubed, golden records


def test_meta_block_wep_cbs_counts_and_pruning(spark):
    # docs 1,2 share two tokens; 1,3 and 2,3 share one each ->
    # mean = (2+1+1)/3 = 4/3; only (1,2) survives WEP
    keys = spark.createDataFrame(
        [
            ("alpha", 1), ("beta", 1),
            ("alpha", 2), ("beta", 2),
            ("alpha", 3),
        ],
        "block_key string, doc_id int",
    )
    rows = {
        (r.doc_id_1, r.doc_id_2): (r.cbs, r.kept)
        for r in blocking.meta_block_wep(keys).collect()
    }
    assert rows == {(1, 2): (2, True), (1, 3): (1, False), (2, 3): (1, False)}


def test_meta_block_wep_drop_cap_removes_stopword_block(spark):
    # 'the' hits every doc; with drop_cap=2 the 4-doc block vanishes and
    # only the small block's pair remains
    keys = spark.createDataFrame(
        [("the", i) for i in range(1, 5)] + [("rare", 1), ("rare", 2)],
        "block_key string, doc_id int",
    )
    out = blocking.meta_block_wep(keys, drop_cap=2).collect()
    assert {(r.doc_id_1, r.doc_id_2, r.cbs) for r in out} == {(1, 2, 1)}
    # without the cap the stopword block contributes all 6 pairs
    assert blocking.meta_block_wep(keys).count() == 6


def test_meta_block_wep_mean_boundary_is_inclusive(spark):
    # two pairs with weights 1 and 1 -> mean exactly 1.0; both kept
    keys = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 4)],
        "block_key string, doc_id int",
    )
    out = blocking.meta_block_wep(keys).collect()
    assert all(r.kept for r in out) and len(out) == 2


def test_meta_block_wnp_node_thresholds(spark):
    # star around doc 1: edges (1,2) w=2, (1,3) w=1, (1,4) w=1.
    # node 1's mean = 4/3 -> only (1,2) passes via node 1; nodes 2,3,4
    # each have a single edge so their mean EQUALS that edge's weight ->
    # every edge passes via its leaf endpoint. WNP keeps all three;
    # WEP's global mean (4/3) would prune (1,3) and (1,4).
    keys = spark.createDataFrame(
        [
            ("a", 1), ("a", 2),
            ("b", 1), ("b", 2),
            ("c", 1), ("c", 3),
            ("d", 1), ("d", 4),
        ],
        "block_key string, doc_id int",
    )
    wnp = {
        (r.doc_id_1, r.doc_id_2): (r.cbs, r.kept)
        for r in blocking.meta_block_wnp(keys).collect()
    }
    assert wnp == {
        (1, 2): (2, True),
        (1, 3): (1, True),
        (1, 4): (1, True),
    }
    wep = {
        (r.doc_id_1, r.doc_id_2): r.kept
        for r in blocking.meta_block_wep(keys).collect()
    }
    assert wep == {(1, 2): True, (1, 3): False, (1, 4): False}


def test_meta_block_wnp_prunes_below_both_endpoints(spark):
    # triangle with one heavy edge: (1,2) w=3, (1,3) w=1, (2,3) w=1.
    # node 1 mean = node 2 mean = 2, node 3 mean = 1. (1,3) passes via
    # node 3 (1 >= 1) but (1,2)'s weight 3 passes everywhere; nothing
    # is below BOTH endpoints here, so drop the light edges' leaf rescue
    # by giving node 3 a heavy edge too: (3,4) w=3 -> node 3 mean = 2,
    # and now (1,3) and (2,3) sit below both endpoints' thresholds.
    keys = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 2), ("c", 1), ("c", 2)]
        + [("d", 1), ("d", 3), ("e", 2), ("e", 3)]
        + [("f", 3), ("f", 4), ("g", 3), ("g", 4), ("h", 3), ("h", 4)],
        "block_key string, doc_id int",
    )
    out = {
        (r.doc_id_1, r.doc_id_2): (r.cbs, r.kept)
        for r in blocking.meta_block_wnp(keys).collect()
    }
    # node means: 1 -> (3+1)/2=2, 2 -> (3+1)/2=2, 3 -> (1+1+3)/3=5/3,
    # 4 -> 3. (1,3): 1 < min(2, 5/3) -> pruned; (2,3) likewise;
    # (1,2): 3 >= 2 kept; (3,4): 3 >= 5/3 kept.
    assert out == {
        (1, 2): (3, True),
        (1, 3): (1, False),
        (2, 3): (1, False),
        (3, 4): (3, True),
    }


def test_meta_block_wnp_drop_cap_and_boundary(spark):
    # stopword block removed under the cap, and the single-edge
    # boundary (weight == own mean) is inclusive
    keys = spark.createDataFrame(
        [("the", i) for i in range(1, 5)] + [("rare", 1), ("rare", 2)],
        "block_key string, doc_id int",
    )
    out = blocking.meta_block_wnp(keys, drop_cap=2).collect()
    assert [(r.doc_id_1, r.doc_id_2, r.cbs, r.kept) for r in out] == [
        (1, 2, 1, True)
    ]


def test_meta_block_cnp_topk_per_node(spark):
    # star around doc 1 with weights (1,2)=3, (1,3)=2, (1,4)=1 and k=1:
    # node 1 retains only (1,2); leaves 2,3,4 each retain their single
    # edge -> EVERY edge survives via its leaf endpoint. With the leaves
    # connected to a second hub instead, pruning becomes visible below.
    keys = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 2), ("c", 1), ("c", 2)]
        + [("d", 1), ("d", 3), ("e", 1), ("e", 3)]
        + [("f", 1), ("f", 4)],
        "block_key string, doc_id int",
    )
    out = {
        (r.doc_id_1, r.doc_id_2): (r.cbs, r.kept)
        for r in blocking.meta_block_cnp(keys, k=1).collect()
    }
    assert out == {
        (1, 2): (3, True),
        (1, 3): (2, True),
        (1, 4): (1, True),
    }


def test_meta_block_cnp_prunes_and_breaks_ties_deterministically(spark):
    # clique of 4 docs all pairwise weight 1 (one shared token each
    # pair would need distinct tokens; use a single 4-doc block -> all
    # 6 edges weight 1). k=1: each node retains its LOWEST-id neighbor
    # (tie-break dst ASC), so retained directed tops are 1->2, 2->1,
    # 3->1, 4->1; surviving undirected edges: (1,2),(1,3),(1,4); the
    # (2,3),(2,4),(3,4) edges are retained by NO endpoint -> pruned.
    keys = spark.createDataFrame(
        [("blk", i) for i in range(1, 5)],
        "block_key string, doc_id int",
    )
    out = {
        (r.doc_id_1, r.doc_id_2): r.kept
        for r in blocking.meta_block_cnp(keys, k=1).collect()
    }
    assert out == {
        (1, 2): True,
        (1, 3): True,
        (1, 4): True,
        (2, 3): False,
        (2, 4): False,
        (3, 4): False,
    }
    # repartition invariance: the kept set is a pure function of input
    out2 = {
        (r.doc_id_1, r.doc_id_2): r.kept
        for r in blocking.meta_block_cnp(
            keys.repartition(7), k=1
        ).collect()
    }
    assert out2 == out


def test_meta_block_cnp_budget_bound(spark):
    # k=2 on a 6-doc single block: every node retains exactly 2 edges,
    # so kept edges <= k * n_docs (the scoring-budget guarantee), and
    # strictly fewer than the 15 clique edges
    keys = spark.createDataFrame(
        [("blk", i) for i in range(1, 7)],
        "block_key string, doc_id int",
    )
    out = blocking.meta_block_cnp(keys, k=2).collect()
    kept = [r for r in out if r.kept]
    assert len(out) == 15
    assert 0 < len(kept) <= 2 * 6
    # every node appears in at least one kept edge (no record starved)
    touched = {r.doc_id_1 for r in kept} | {r.doc_id_2 for r in kept}
    assert touched == set(range(1, 7))


def test_bcubed_perfect_and_known_values(spark):
    # identical partitions -> all three stats 1.0
    perfect = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "y")],
        "doc_id int, pred string, truth string",
    )
    vals = {r.stat: r.value for r in metrics.bcubed(perfect).collect()}
    assert vals == {
        "bcubed_f1": 1.0,
        "bcubed_precision": 1.0,
        "bcubed_recall": 1.0,
    }
    # textbook example: pred merges truth clusters {1,2} and {3} into
    # one; P = mean(2/3, 2/3, 1/3) = 5/9, R = 1.0
    merged = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "a", "y")],
        "doc_id int, pred string, truth string",
    )
    vals = {r.stat: r.value for r in metrics.bcubed(merged).collect()}
    assert vals["bcubed_recall"] == 1.0
    assert abs(vals["bcubed_precision"] - 5 / 9) < 1e-6
    p, r = vals["bcubed_precision"], vals["bcubed_recall"]
    assert abs(vals["bcubed_f1"] - 2 * p * r / (p + r)) < 1e-6


def test_bcubed_over_segmentation_hits_precision_not_recall_symmetry(spark):
    # splitting one truth cluster into singletons: precision stays 1,
    # recall drops — the mirror of the merge case above
    split = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "x")],
        "doc_id int, pred string, truth string",
    )
    vals = {r.stat: r.value for r in metrics.bcubed(split).collect()}
    assert vals["bcubed_precision"] == 1.0
    assert abs(vals["bcubed_recall"] - 1 / 3) < 1e-6


def test_bcubed_repartition_invariant(spark):
    import random

    rnd = random.Random(9)
    rows = [
        (i, f"p{rnd.randrange(4)}", f"t{rnd.randrange(3)}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id int, pred string, truth string")
    a = {r.stat: r.value for r in metrics.bcubed(df.repartition(1)).collect()}
    b = {r.stat: r.value for r in metrics.bcubed(df.repartition(17)).collect()}
    assert a == b  # exact equality — integer-micro accumulation


def test_golden_records_survivorship_rules(spark):
    assigned = spark.createDataFrame(
        [
            # entity 10: rep = doc 2 (longest text); lang mode 'en';
            # source tie 'A'/'B' -> min 'A'
            (1, 10, "short", "en", "A"),
            (2, 10, "longest text", "en", "B"),
            (3, 10, "mid txt", "de", None),
            # entity 20: singleton, NULL lang survives as NULL
            (7, 20, "solo", None, "C"),
        ],
        "doc_id int, entity_id int, text string, lang string, source string",
    )
    out = {
        r.entity_id: r
        for r in cluster.golden_records(
            assigned, fields=["lang", "source"]
        ).collect()
    }
    assert out[10].rep_doc_id == 2
    assert out[10].n_members == 3
    assert out[10].lang == "en"
    assert out[10].source == "A"
    assert out[20].rep_doc_id == 7
    assert out[20].lang is None
    assert out[20].source == "C"


def test_golden_records_rep_tie_breaks_to_min_doc_id(spark):
    assigned = spark.createDataFrame(
        [(5, 1, "same", "en", "A"), (3, 1, "same", "en", "A")],
        "doc_id int, entity_id int, text string, lang string, source string",
    )
    out = cluster.golden_records(assigned, fields=["lang", "source"]).collect()
    assert len(out) == 1 and out[0].rep_doc_id == 3 and out[0].n_members == 2


def test_golden_records_keeps_entity_with_only_null_texts(spark):
    """A NULL rep_len_col counts as length 0, so an entity whose members
    all have NULL text still gets its record (min doc_id), and a NULL
    never beats a text."""
    assigned = spark.createDataFrame(
        [("a", "e1", None), ("b", "e1", None), ("c", "e2", "xx"), ("d", "e2", None)],
        "doc_id string, entity_id string, text string",
    )
    out = {r.entity_id: r for r in cluster.golden_records(assigned, fields=[]).collect()}
    assert sorted(out) == ["e1", "e2"]
    assert (out["e1"].rep_doc_id, out["e1"].n_members) == ("a", 2)
    assert (out["e2"].rep_doc_id, out["e2"].n_members) == ("c", 2)


def _same_label_pairs(labels: dict) -> set:
    """Every doc pair with equal labels, enumerated; None matches None."""
    docs = sorted(labels)
    return {
        (a, b)
        for i, a in enumerate(docs)
        for b in docs[i + 1 :]
        if labels[a] == labels[b]
    }


def test_pair_counts_match_brute_force_enumeration(spark):
    """cluster_pairwise_f1's tp/fp/fn and adjusted_rand_index's
    idx/a_sum/b_sum equal doc pairs enumerated in Python, over random
    labelings with docs present in only one table, NULL labels and one
    all-docs cluster. F1 gives a NULL entity_id no pairs; ARI counts
    NULL as one more label."""
    import random

    rng = random.Random(13)
    for case in range(5):
        n, k = rng.randint(2, 40), rng.randint(1, 6)
        pred = {d: rng.randrange(k) for d in range(n) if rng.random() < 0.9}
        if case == 0:  # everything in one predicted cluster
            pred = dict.fromkeys(range(n), 0)
        truth = {
            d: rng.choice([None, *range(k)]) for d in range(n) if rng.random() < 0.9
        }
        frame = lambda lab: spark.createDataFrame(  # noqa: E731
            list(lab.items()), "doc_id int, entity_id int"
        )
        p = _same_label_pairs({d: v for d, v in pred.items() if v is not None})
        t = _same_label_pairs({d: v for d, v in truth.items() if v is not None})
        res = metrics.cluster_pairwise_f1(frame(pred), frame(truth))
        assert (res["tp"], res["fp"], res["fn"]) == (
            len(p & t), len(p - t), len(t - p)
        ), (case, res)

        both = sorted(set(pred) & set(truth))
        assign = spark.createDataFrame(
            [(d, pred[d], truth[d]) for d in both],
            "doc_id int, pred int, truth int",
        )
        bp = _same_label_pairs({d: pred[d] for d in both})
        bt = _same_label_pairs({d: truth[d] for d in both})
        r = metrics.adjusted_rand_index(assign).first()
        assert (r.n_docs, r.idx, r.a_sum, r.b_sum) == (
            len(both), len(bp & bt), len(bp), len(bt)
        ), (case, r)


def test_blocking_quality_planted_counts(spark):
    # 4 docs, truth = {1,2},{3},{4}; candidates = (1,2),(1,3) ->
    # tp=1, true=1, cand=2; PC=1, PQ=0.5, RR=1-2/6
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_id_1 int, doc_id_2 int"
    )
    truth = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 30)], "doc_id int, entity_id int"
    )
    vals = {r.stat: r.value for r in metrics.blocking_quality(pairs, truth).collect()}
    assert vals["cand_pairs"] == 2.0
    assert vals["true_pairs"] == 1.0
    assert vals["tp_pairs"] == 1.0
    assert vals["pair_completeness"] == 1.0
    assert vals["pairs_quality"] == 0.5
    assert vals["reduction_ratio"] == round(1 - 2 / 6, 6)


def test_blocking_quality_missed_true_pair(spark):
    # blocking that misses the only true pair: PC=0, PQ=0
    pairs = spark.createDataFrame([(3, 4)], "doc_id_1 int, doc_id_2 int")
    truth = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 30)], "doc_id int, entity_id int"
    )
    vals = {r.stat: r.value for r in metrics.blocking_quality(pairs, truth).collect()}
    assert vals["pair_completeness"] == 0.0
    assert vals["pairs_quality"] == 0.0


def test_cluster_stats_chain_vs_triangle_density(spark):
    # entity 1: triangle {1,2,3} (3 edges, density 1.0);
    # entity 4: chain 4-5-6 (2 edges, density 2/3); 7: singleton
    edges = spark.createDataFrame(
        [
            (1, 2, 0.9), (1, 3, 0.95), (2, 3, 0.88),
            (4, 5, 0.86), (5, 6, 0.87),
        ],
        "doc_id_1 int, doc_id_2 int, score double",
    )
    comps = cluster.connected_components(edges)
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id int")
    assigned = cluster.assign_entities(docs, comps)
    out = {r.entity_id: r for r in cluster.cluster_stats(edges, assigned).collect()}
    tri, chain, single = out[1], out[4], out[7]
    assert (tri.n_members, tri.n_edges, tri.density) == (3, 3, 1.0)
    assert (tri.min_score, tri.max_score) == (0.88, 0.95)
    assert (chain.n_members, chain.n_edges) == (3, 2)
    assert chain.density == round(2 * 2 / (3 * 2), 6)
    assert (single.n_members, single.n_edges) == (1, 0)
    assert single.density is None and single.min_score is None


def test_cluster_stats_without_score_column(spark):
    edges = spark.createDataFrame(
        [(1, 2)], "doc_id_1 int, doc_id_2 int"
    )
    comps = cluster.connected_components(edges)
    docs = spark.createDataFrame([(1,), (2,)], "doc_id int")
    out = cluster.cluster_stats(
        edges, cluster.assign_entities(docs, comps), score_col=None
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_members, r.n_edges, r.density) == (2, 1, 1.0)
    assert r.min_score is None and r.max_score is None


def _vm_brute(labels):
    """Independent V-measure replay (micro-int entropies, half-away
    rounds) for (pred, truth) label pairs."""
    import math
    from collections import Counter

    def r6(x):
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)

    n = len(labels)
    cells = Counter(labels)
    np_ = Counter(p for p, _ in labels)
    nt_ = Counter(t for _, t in labels)
    mic = lambda num, den: round(math.log(num / den) * 1e6)
    ctk = sum(c * mic(c, np_[p]) for (p, t), c in cells.items())
    ckt = sum(c * mic(c, nt_[t]) for (p, t), c in cells.items())
    ht = sum(c * mic(c, n) for c in nt_.values())
    hp = sum(c * mic(c, n) for c in np_.values())
    h = 1.0 if ht == 0 else r6(1.0 - ctk / ht)
    c = 1.0 if hp == 0 else r6(1.0 - ckt / hp)
    v = r6(2 * h * c / (h + c)) if h + c else 0.0
    return {"homogeneity": h, "completeness": c, "v_measure": v}


def test_v_measure_known_values(spark):
    from rapidfuzz_spark.pipeline.metrics import v_measure

    def run(labels):
        assign = spark.createDataFrame(
            [(f"d{i}", p, t) for i, (p, t) in enumerate(labels)],
            ["doc_id", "pred", "truth"],
        )
        return {r.stat: r.value for r in v_measure(assign).collect()}

    # perfect clustering -> all 1.0
    perfect = [("a", "x")] * 3 + [("b", "y")] * 2
    assert run(perfect) == {"homogeneity": 1.0, "completeness": 1.0, "v_measure": 1.0}
    # over-segmentation: homogeneous (each pred pure) but only half
    # complete (each truth class splits over two preds: c = 1 -
    # ln2/ln4 = 0.5, v = 2*1*0.5/1.5)
    overseg = [("a", "x"), ("b", "x"), ("c", "y"), ("d", "y")]
    got = run(overseg)
    assert got["homogeneity"] == 1.0 and got["completeness"] == 0.5
    assert got["v_measure"] == round(2 * 1.0 * 0.5 / 1.5, 6)
    assert got == _vm_brute(overseg)
    # mixed textbook case vs the independent brute replay
    mixed = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y"), ("b", "y"), ("b", "x")]
    assert run(mixed) == _vm_brute(mixed)
    # single truth cluster -> h = 1 by convention
    single_t = [("a", "x"), ("b", "x"), ("b", "x")]
    got = run(single_t)
    assert got["homogeneity"] == 1.0
    assert got == _vm_brute(single_t)


def test_metrics_on_empty_assignment(spark):
    """No docs: V-measure takes sklearn's conventions (both entropies
    are 0, so h = c = v = 1.0) instead of failing on the missing N row,
    and ARI reports zero counts with a NULL index (den = 0)."""
    from rapidfuzz_spark.pipeline.metrics import adjusted_rand_index, v_measure

    empty = spark.createDataFrame([], "doc_id string, pred string, truth string")
    vm = {r.stat: r.value for r in v_measure(empty).collect()}
    assert vm == {"homogeneity": 1.0, "completeness": 1.0, "v_measure": 1.0}
    assert tuple(adjusted_rand_index(empty).first()) == (0, 0, 0, 0, None)


def test_stats_frames_collect_without_a_job(spark):
    """Each metric runs its own action(s) and returns its stats as a
    local relation: collecting the returned frame starts no Spark job
    (a frame from createDataFrame(list) is RDD-backed and runs one)."""
    from rapidfuzz_spark.pipeline import metrics

    labels = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y"), ("b", None)]
    assign = spark.createDataFrame(
        [(f"d{i}", p, t) for i, (p, t) in enumerate(labels)],
        "doc_id string, pred string, truth string",
    )
    truth = assign.select("doc_id", F.col("truth").alias("entity_id"))
    pairs = spark.createDataFrame(
        [("d0", "d1"), ("d0", "d2"), ("d3", "d4")], "doc_id_1 string, doc_id_2 string"
    )
    sc = spark.sparkContext
    frames = {
        "bcubed": metrics.bcubed(assign),
        "v_measure": metrics.v_measure(assign),
        "ari": metrics.adjusted_rand_index(assign),
        "blocking_quality": metrics.blocking_quality(pairs, truth),
    }
    for name, frame in frames.items():
        group = f"stats-frame-{name}"
        sc.setJobGroup(group, "collect a metric's stats frame")
        try:
            rows = frame.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows, name
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
    # the frames hold the metric's numbers: d0-d1 is the one pair in a cell
    ari = frames["ari"].first()
    assert (ari.n_docs, ari.idx) == (5, 1)


# ---------------------------------------------------------------------------
# phonetic (Soundex) blocking key
# ---------------------------------------------------------------------------


def _py_soundex(name: str):
    """Independent textbook American Soundex (H/W transparent, vowels
    separate, first letter absorbed into its code run)."""
    name = "".join(c for c in name.upper() if c.isalpha())
    if not name:
        return None
    codes = {**{c: "1" for c in "BFPV"}, **{c: "2" for c in "CGJKQSXZ"},
             **{c: "3" for c in "DT"}, "L": "4", "M": "5", "N": "5",
             "R": "6"}
    out = []
    last = codes.get(name[0], "")
    for ch in name[1:]:
        if ch in "HW":
            continue
        c = codes.get(ch, "")
        if c and c != last:
            out.append(c)
        last = c if ch not in "AEIOUY" else ""
    return (name[0] + "".join(out) + "000")[:4]


def test_soundex_key_textbook_corners(spark):
    from rapidfuzz_spark.pipeline import blocking

    names = ["Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak",
             "Pfister", "Honeyman", "Hwang", "Wchz", "Aeio", "Jackson",
             "Washington", "Lee", "Gutierrez", "O'Brien", "x", ""]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        r.name: r.sx
        for r in df.select(
            "name", blocking.soundex_key(F.col("name")).alias("sx")
        ).collect()
    }
    for n in names:
        assert got[n] == _py_soundex(n), (n, got[n], _py_soundex(n))
    # the classic pairs block together
    assert got["Robert"] == got["Rupert"] == "R163"
    assert got["Ashcraft"] == got["Ashcroft"] == "A261"
    # third anchor: Spark's native JVM soundex agrees on alpha-only names
    native = {
        r.name: r.s
        for r in df.where(F.col("name").rlike("^[A-Za-z]+$"))
        .select("name", F.soundex("name").alias("s"))
        .collect()
    }
    for n, s in native.items():
        assert got[n] == s, (n, got[n], s)


def test_soundex_key_random_fuzz_vs_reference(spark):
    import random
    import string

    from rapidfuzz_spark.pipeline import blocking

    rng = random.Random(9)
    names = ["".join(rng.choices(string.ascii_letters + "' -", k=rng.randrange(1, 12)))
             for _ in range(300)]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        r.name: r.sx
        for r in df.select(
            "name", blocking.soundex_key(F.col("name")).alias("sx")
        ).collect()
    }
    for n in set(names):
        assert got[n] == _py_soundex(n), n


def test_phonetic_keys_map_only_plan(spark):
    import contextlib
    import io

    from rapidfuzz_spark.pipeline import blocking

    docs = spark.createDataFrame(
        [(1, "Smith wrote this"), (2, "Smyth wrote that")],
        "doc_id int, text string",
    )
    out = blocking.phonetic_keys(docs)
    rows = {(r.block_key, r.doc_id) for r in out.collect()}
    assert rows == {("sx:S530", 1), ("sx:S530", 2)}  # Smith == Smyth
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("simple")
    p = buf.getvalue()
    assert "Exchange" not in p  # one projection, zero shuffle
