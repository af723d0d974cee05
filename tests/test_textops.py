"""Semantic tests for the training-data operators (textops package):
dedup family, ANN, text analysis, multimodal plumbing. Engine-portability
of every oracle-checked operator is additionally verified by
tools/driver_sim.py against DuckDB."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from rapidfuzz_spark.textops import ann, dedup, multimodal, quality

TEXTS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    (2, "completely different content about database query optimization"),
    (3, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (4, "zzz qqq xxx vvv kkk www uuu yyy hhh jjj mmm nnn ppp rrr sss ttt"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string").cache()


def test_exact_duplicates(docs):
    rows = {r.doc_id: r for r in dedup.exact_duplicates(docs).collect()}
    assert rows[0].canonical_id == 0 and rows[3].canonical_id == 0
    assert rows[0].group_size == 2 and rows[3].group_size == 2
    assert rows[1].canonical_id == 1 and rows[1].group_size == 1


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {
        (r.id_1, r.id_2)
        for r in dedup.minhash_lsh_candidates(docs, n_hashes=16, rows_per_band=4).collect()
    }
    assert (0, 3) in pairs  # exact dup always collides on every band
    assert (0, 1) in pairs  # 1-char edit: shingle sets nearly identical
    assert (0, 2) not in pairs and (2, 4) not in pairs


def test_simhash_near_dup_close(docs):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert all(len(v) == 32 and set(v) <= {"0", "1"} for v in sh.values())
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    assert sh[0] == sh[3]
    assert ham(sh[0], sh[1]) <= 6
    assert ham(sh[0], sh[4]) >= 8


def test_ngram_jaccard(spark):
    p = spark.createDataFrame(
        [(1, 2, "abcdef", "abcdef"), (3, 4, "abcdef", "uvwxyz")],
        "id_1 long, id_2 long, t1 string, t2 string",
    )
    out = {
        (r.id_1, r.id_2): r.j
        for r in p.select(
            "id_1", "id_2", dedup.ngram_jaccard(p, n=3).alias("j")
        ).collect()
    }
    assert out[(1, 2)] == 1.0
    assert out[(3, 4)] == 0.0


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 8))
    base[5] = base[0] + rng.normal(scale=1e-3, size=8)  # planted near-dup of 0
    rows = [
        (i, [float(x) for x in base[i]], int(i // 10)) for i in range(len(base))
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()


def test_cosine_and_neardup(vecs):
    out = dedup.embedding_near_duplicates(vecs, threshold=0.999, block_col="label")
    assert {(r.id_1, r.id_2) for r in out.collect()} == {(0, 5)}


def test_ann_bruteforce(vecs):
    top = ann.brute_force_topk(vecs.where(F.col("vec_id") == 0), vecs, k=3)
    rows = sorted(top.collect(), key=lambda r: r.rnk)
    assert rows[0].cid == 5 and rows[0].cos_sim > 0.999
    assert len(rows) == 3 and [r.rnk for r in rows] == [1, 2, 3]


def test_ann_lsh_same_bucket_for_identical(vecs):
    b = {r.vec_id: r.bucket for r in ann.hyperplane_buckets(vecs, n_planes=8).collect()}
    assert b[0] == b[5]  # near-identical vectors share all hyperplane signs
    assert all(len(v) == 8 for v in b.values())
    top = ann.lsh_topk(vecs.where(F.col("vec_id") == 0), vecs, k=3, n_planes=8)
    got = {r.cid for r in top.collect()}
    assert 5 in got


def test_ivf_cells_cover_corpus(vecs):
    cells = ann.ivf_cells(vecs, n_cells=4).collect()
    assert len(cells) == 20  # every vector assigned exactly one cell
    assert {r.cell for r in cells} <= set(range(4))
    # deterministic: hash-order centroids + rounded argmax, no RNG state
    again = {(r.vec_id, r.cell) for r in ann.ivf_cells(vecs, n_cells=4).collect()}
    assert {(r.vec_id, r.cell) for r in cells} == again
    # near-identical vectors land in the same cell
    by_id = {r.vec_id: r.cell for r in cells}
    assert by_id[0] == by_id[5]


def test_ivf_full_probe_equals_bruteforce(vecs):
    """nprobe == n_cells searches every cell — the result must be exactly
    the exhaustive top-k (IVF only ever loses recall by probing fewer)."""
    q = vecs.where(F.col("vec_id") < 3)
    brute = {
        (r.qid, r.cid, r.rnk) for r in ann.brute_force_topk(q, vecs, k=4).collect()
    }
    full = {
        (r.qid, r.cid, r.rnk)
        for r in ann.ivf_topk(q, vecs, k=4, n_cells=4, nprobe=4).collect()
    }
    assert brute == full


def test_ivf_probe_finds_planted_neighbor(vecs):
    top = ann.ivf_topk(
        vecs.where(F.col("vec_id") == 0), vecs, k=3, n_cells=4, nprobe=1
    ).collect()
    # 0 and its planted near-dup 5 share a cell, so even nprobe=1 finds it
    assert top and top[0].cid == 5 and top[0].cos_sim > 0.999
    # one cell of ~20/4 vectors probed: candidate set smaller than corpus
    assert len(top) <= 3


def test_ivf_assign_backends_agree(vecs):
    """The Arrow-matmul assignment (the large-n_cells scale path) must
    reproduce the codegen literal-argmax cells and the full top-k."""
    cg = {(r.vec_id, r.cell) for r in ann.ivf_cells(vecs, n_cells=4, assign="codegen").collect()}
    pd_ = {(r.vec_id, r.cell) for r in ann.ivf_cells(vecs, n_cells=4, assign="pandas").collect()}
    assert cg == pd_
    q = vecs.where(F.col("vec_id") < 5)
    a = {
        (r.qid, r.cid, r.cos_sim, r.rnk)
        for r in ann.ivf_topk(q, vecs, k=3, n_cells=4, nprobe=2, assign="codegen").collect()
    }
    b = {
        (r.qid, r.cid, r.cos_sim, r.rnk)
        for r in ann.ivf_topk(q, vecs, k=3, n_cells=4, nprobe=2, assign="pandas").collect()
    }
    assert a == b


def test_ivf_auto_routes_large_cells_to_pandas(spark):
    """auto > 64 cells goes through the Arrow path (plan shows an
    ArrowEvalPython node, never row-at-a-time Python) and still agrees
    with codegen on a denser corpus."""
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    auto = ann.ivf_cells(emb, n_cells=70)  # auto -> pandas
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    got = {(r.vec_id, r.cell) for r in auto.collect()}
    want = {
        (r.vec_id, r.cell)
        for r in ann.ivf_cells(emb, n_cells=70, assign="codegen").collect()
    }
    assert got == want


def test_ivf_cell_cap_drops_hot_cells(vecs):
    """cell_cap mirrors lsh_topk's bucket_cap: corpus cells above the
    cap are dropped via a broadcast census, everything else unchanged."""
    sizes = {}
    for r in ann.ivf_cells(vecs, n_cells=4).collect():
        sizes[r.cell] = sizes.get(r.cell, 0) + 1
    cap = max(sizes.values()) - 1  # drop exactly the biggest cell(s)
    hot = {c for c, n in sizes.items() if n > cap}
    assert hot and len(hot) < len(sizes)  # drops some cells, not all
    q = vecs.where(F.col("vec_id") < 5)
    # k > corpus so neither side truncates: set equality is then exact
    capped = ann.ivf_topk(q, vecs, k=25, n_cells=4, nprobe=4, cell_cap=cap)
    full = ann.ivf_topk(q, vecs, k=25, n_cells=4, nprobe=4)
    cells = {r.vec_id: r.cell for r in ann.ivf_cells(vecs, n_cells=4).collect()}
    got = {(r.qid, r.cid) for r in capped.collect()}
    # no candidate from a dropped cell, and the survivors are exactly the
    # full result restricted to cool cells re-ranked
    assert all(cells[cid] not in hot for _, cid in got)
    want = {(r.qid, r.cid) for r in full.collect() if cells[r.cid] not in hot}
    assert got == want


def test_ivf_pandas_null_embedding_scores_zero(spark):
    """A null embedding has no direction: both backends score it 0.0
    against every centroid, so it lands in cell 0 (lowest-id tie)."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, None)],
        "vec_id long, embedding array<float>",
    )
    for assign in ("codegen", "pandas"):
        cells = {r.vec_id: r.cell for r in ann.ivf_cells(emb, n_cells=2, assign=assign).collect()}
        assert cells[2] == 0, assign


def test_kmeans_iters0_is_seed_and_deterministic(vecs):
    """refine_centroids(iters=0) is exactly the hash-order seed, so
    kmeans_cells degenerates to ivf_cells; assignments are reproducible
    under repartitioning (no RNG, no order dependence)."""
    seed = ann._ivf_centroids(vecs, 4, "vec_id", "embedding")
    assert ann.refine_centroids(vecs, n_cells=4, iters=0) == seed
    got = {(r.vec_id, r.cell) for r in ann.kmeans_cells(vecs, n_cells=4, iters=2).collect()}
    assert len(got) == 20  # every vector assigned exactly one cell
    again = {
        (r.vec_id, r.cell)
        for r in ann.kmeans_cells(vecs.repartition(7), n_cells=4, iters=2).collect()
    }
    assert got == again


def test_kmeans_separates_planted_clusters(spark):
    """Two tight, well-separated clusters: after Lloyd refinement the two
    cells are exactly the two clusters, and each refined centroid is the
    6-dp rounded member mean."""
    a = [[1.0, 0.0, 0.125], [0.9, 0.1, 0.125], [1.1, -0.1, 0.125]]
    b = [[-0.5, 2.0, 0.25], [-0.4, 2.2, 0.25], [-0.6, 1.8, 0.25]]
    rows = [(i, v) for i, v in enumerate(a + b)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cells = {r.vec_id: r.cell for r in ann.kmeans_cells(emb, n_cells=2, iters=3).collect()}
    assert len({cells[0], cells[1], cells[2]}) == 1
    assert len({cells[3], cells[4], cells[5]}) == 1
    assert cells[0] != cells[3]
    cents = ann.refine_centroids(emb, n_cells=2, iters=3)
    by_cell = {cells[0]: a, cells[3]: b}
    for c, members in by_cell.items():
        want = [round(sum(col) / len(col), 6) for col in zip(*members)]
        assert cents[c] == pytest.approx(want, abs=1e-9)


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    """All vectors identical: both seed centroids coincide, every vector
    ties to cell 0, and the memberless cell 1 must carry its previous
    centroid forward instead of degenerating (no NaN / shrinkage)."""
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(4)] + [(9, None)],
        "vec_id long, embedding array<float>",
    )
    cents = ann.refine_centroids(emb, n_cells=2, iters=2)
    assert cents == [[1.0, 2.0], [1.0, 2.0]]
    cells = {r.vec_id: r.cell for r in ann.kmeans_cells(emb, n_cells=2, iters=2).collect()}
    assert set(cells.values()) == {0}  # ties -> lowest cell; NULL -> cell 0


def test_language_id_shapes(spark):
    docs = spark.createDataFrame(
        [(i, "abc def ghi " * 5, "en") if i % 2 else (i, "xyz uvw rst " * 5, "fr")
         for i in range(10)],
        "doc_id long, text string, lang string",
    )
    out = quality.language_id(docs, top_n=10).collect()
    assert len(out) == 10
    acc = sum(r.is_correct for r in out) / len(out)
    assert acc == 1.0  # perfectly separable synthetic corpus


def test_quality_and_tokens(spark):
    docs = spark.createDataFrame(
        [(1, "hello world 42!")], "doc_id long, text string"
    )
    q = quality.quality_features(docs).collect()[0]
    assert q.n_chars_m == 15 and q.n_tokens == 3
    t = quality.token_counts(docs).collect()[0]
    assert t.ws_tokens == 3
    assert t.bpe_tokens == 4  # hello | world | 42 | !


def test_winnow_fingerprints(spark):
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in quality.winnow_fingerprints(docs, k=8, window=4).collect()}
    assert out[1].n_fingerprints == out[2].n_fingerprints
    assert out[1].min_fp == out[2].min_fp  # deterministic


MEDIA_ROWS = [
    ("d1", "m://aaaa", "image"),
    ("d2", "m://bbbb", "audio"),
    ("d3", "m://cccc", "video"),
]


@pytest.fixture(scope="module")
def media(spark):
    df = spark.createDataFrame(
        MEDIA_ROWS, "doc_id string, media_ref string, kind string"
    )
    return multimodal.with_payload(df).cache()


def test_decode_media_deterministic(media):
    a = {r.media_ref: r for r in multimodal.decode_media(media).collect()}
    b = {r.media_ref: r for r in multimodal.decode_media(media).collect()}
    assert a.keys() == b.keys() and len(a) == 3
    for k in a:
        assert (a[k].width, a[k].height, a[k].n_frames) == (
            b[k].width, b[k].height, b[k].n_frames
        )
    # container detected from the BYTES, not the declared kind
    assert a["m://aaaa"].container == "png"
    assert a["m://bbbb"].container == "wav"
    assert a["m://cccc"].container == "avi"
    assert 16 <= a["m://aaaa"].width < 1936 and 16 <= a["m://aaaa"].height < 1096
    assert 16 <= a["m://cccc"].width < 1936 and 16 <= a["m://cccc"].height < 1096
    assert (a["m://bbbb"].width, a["m://bbbb"].height) == (0, 0)  # audio
    assert a["m://aaaa"].n_frames == 1 and a["m://aaaa"].duration_ms == 0
    assert a["m://bbbb"].duration_ms == a["m://bbbb"].n_frames * 33
    assert a["m://cccc"].duration_ms == a["m://cccc"].n_frames * 33
    assert a["m://aaaa"].n_bytes == 49  # full PNG: sig + IHDR + 16-byte body
    assert a["m://bbbb"].n_bytes == 60 and a["m://cccc"].n_bytes == 104


def test_media_spans_extraction(spark):
    rows = [
        (
            "d1",
            [
                {"kind": "text", "text": "hi", "media_ref": None, "offset": 0},
                {"kind": "image", "text": None, "media_ref": "m://x", "offset": 1},
            ],
        )
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = multimodal.media_spans(df).collect()
    assert len(out) == 1 and out[0].media_ref == "m://x" and out[0].kind == "image"


def test_byte_histogram_features(media):
    rows = multimodal.byte_histogram_features(media, n_bins=16).collect()
    assert len(rows) == 3
    for r in rows:
        assert len(r.feature) == 16
        assert abs(sum(r.feature) - 1.0) < 1e-9


def test_frame_samples(media):
    dec = multimodal.decode_media(media)
    out = multimodal.sample_frames(dec, every_n=30).collect()
    by_ref = {}
    for r in out:
        by_ref.setdefault(r.media_ref, []).append(r.frame_idx)
    nf = {r.media_ref: r.n_frames for r in dec.collect()}
    for ref, idxs in by_ref.items():
        assert idxs == list(range(0, nf[ref], 30))


def test_parse_container_real_files():
    """parse_container reads genuine container bytes — including files we
    did NOT synthesize: a spec-complete PNG with real CRCs and an IEND
    chunk, a WAV with an extra LIST chunk before data, an AVI with real
    header layout. Pure struct, no codec libs."""
    import struct
    import zlib

    ihdr = struct.pack(">II", 320, 200) + bytes([8, 6, 0, 0, 0])
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        + struct.pack(">I", 0) + b"IEND"
        + struct.pack(">I", zlib.crc32(b"IEND"))
    )
    assert multimodal.parse_container(png) == ("png", 320, 200, 1, 0)

    # 44.1 kHz 16-bit stereo, 1 s of samples declared; LIST chunk first
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + 12 + 176400) + b"WAVE"
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 176400)
    )
    c, w, h, nf, dur = multimodal.parse_container(wav)
    assert (c, w, h, dur) == ("wav", 0, 0, 1000) and nf == 1000 // 33

    avih = struct.pack("<IIIIIIIIII", 40000, 0, 0, 0, 250, 0, 2, 0, 640, 480)
    avi = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 4 + 8 + 56 + 16) + b"AVI "
        + b"LIST" + struct.pack("<I", 4 + 8 + 56 + 16) + b"hdrl"
        + b"avih" + struct.pack("<I", 56) + avih + b"\x00" * 16
    )
    assert multimodal.parse_container(avi) == ("avi", 640, 480, 250, 10000)


def test_parse_container_robustness():
    """Corrupt/truncated blobs in a web corpus return 'unknown' zeros —
    never an exception that fails the stage."""
    for blob in (b"", b"\x00", b"RIFF", b"RIFF\x04\x00\x00\x00JUNK",
                 b"\x89PNG\r\n\x1a\n", b"RIFF\xff\xff\xff\xffWAVE"):
        c, w, h, nf, dur = multimodal.parse_container(blob)
        assert (w, h, nf, dur) == (0, 0, 0, 0) or c in ("png", "wav", "avi", "unknown")


class TestSoftTfidf:
    def test_idf_and_similarity(self, spark):
        from pyspark.sql import functions as F

        from rapidfuzz_spark.textops import softtfidf as ST

        docs = spark.createDataFrame(
            [
                (1, "james smith abcdefg"),
                (2, "james smith abcdefx"),   # near-dup of 1 (rare token 1 edit)
                (3, "james smith qzwvkpy"),   # same name, different rare token
                (4, "maria garcia tuvwxyz"),
            ],
            "doc_id long, norm_text string",
        )
        idf = ST.idf_table(docs)
        idf_map = {r.tok: r.idf for r in idf.collect()}
        assert idf_map["abcdefg"] > idf_map["james"]  # rare > common
        dt = ST.attach_token_idf(docs, idf)
        a = dt.alias("a"); b = dt.alias("b")
        pairs = (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_1"), F.col("b.doc_id").alias("id_2"),
                F.col("a.toks").alias("toks_1"), F.col("a.idfs").alias("idfs_1"),
                F.col("b.toks").alias("toks_2"), F.col("b.idfs").alias("idfs_2"),
            )
        )
        s = {
            (r.id_1, r.id_2): r.s
            for r in pairs.withColumn(
                "s",
                ST.soft_tfidf_similarity("toks_1", "idfs_1", "toks_2", "idfs_2"),
            ).collect()
        }
        assert s[(1, 2)] > 0.8          # true near-dup scores high
        assert s[(1, 3)] < 0.5          # same name, different rare token: low
        assert s[(1, 4)] < 0.1          # nothing shared
        assert s[(1, 2)] > s[(1, 3)] > s[(1, 4)]

    def test_matches_bruteforce_reference(self, spark):
        """The vectorized reduceat/scatter/length-prune machinery must equal
        a naive per-pair double loop (best-match argmax with first-index
        tie-break, 0.7 gate, L2-normalized weights) on random token sets."""
        import random

        from rapidfuzz_spark.kernels.lcs_indel import indel_raw_distance
        from rapidfuzz_spark.textops import softtfidf as ST

        rng = random.Random(7)
        vocab = ["smith", "smyth", "james", "maria", "abcdefg", "abcdefx",
                 "q", "zz", "tuvwxyz", "jones", "johnson", "jensen"]

        def toks(k):
            return [rng.choice(vocab) + str(rng.randrange(3)) for _ in range(k)]

        rows = []
        for i in range(30):
            rows.append((i, toks(rng.randrange(1, 15)),
                         [rng.uniform(0.2, 3.0) for _ in range(15)]))
        data = [(i, t, w[: len(t)]) for i, t, w in rows]
        df = spark.createDataFrame(
            [(i, t, w, data[(i + 1) % 30][1], data[(i + 1) % 30][2])
             for i, t, w in data],
            "id long, toks_1 array<string>, idfs_1 array<double>, "
            "toks_2 array<string>, idfs_2 array<double>",
        )
        got = {
            r.id: r.s
            for r in df.withColumn(
                "s", ST.soft_tfidf_similarity("toks_1", "idfs_1", "toks_2", "idfs_2")
            ).collect()
        }

        def ratio(a, b):
            return 1.0 - indel_raw_distance(a, b) / max(len(a) + len(b), 1)

        def brute(ta, wa, tb, wb, t=0.7):
            import math

            za = math.sqrt(sum(x * x for x in wa)) or 1e-300
            zb = math.sqrt(sum(x * x for x in wb)) or 1e-300
            wa = [x / za for x in wa]
            wb = [x / zb for x in wb]

            def direction(ta, wa, tb, wb):
                s = 0.0
                for i, a in enumerate(ta):
                    best, bj = 0.0, 0
                    for j, b in enumerate(tb):
                        r = ratio(a, b)
                        r = r if r >= t else 0.0
                        if r > best:
                            best, bj = r, j
                    s += wa[i] * wb[bj] * best
                return s

            return min(max(direction(ta, wa, tb, wb), direction(tb, wb, ta, wa)), 1.0)

        for i, t1, w1 in data:
            t2, w2 = data[(i + 1) % 30][1], data[(i + 1) % 30][2]
            exp = brute(t1, w1, t2, w2)
            assert abs(got[i] - exp) < 1e-9, (i, got[i], exp)

    def test_long_document_bounded_memory(self, spark):
        """1k-token documents (10^6 cross entries per pair) must complete —
        the cross product is grouped under _XPROD_CAP and length-pruned, so
        long docs cost bounded scratch instead of an O(batch * na * nb)
        allocation. Values are analytic: identical token multisets -> 1.0,
        disjoint alphabets -> 0.0, exact half overlap w/ uniform idf -> 0.5."""
        from rapidfuzz_spark.textops import softtfidf as ST

        n = 1000
        # three disjoint 6-char stems + 4 digits: cross-stem lcs <= 4 of 10
        # chars -> ratio <= 0.4 < 0.7, so only same-stem-same-index tokens
        # match and the expected scores are exact
        common = [f"cccccc{i:04d}" for i in range(n // 2)]
        a = common + [f"xxxxxx{i:04d}" for i in range(n // 2)]
        ident = a[::-1]  # order-free
        disjoint = [f"zzzzzz{i:04d}" for i in range(n)]
        half = common + disjoint[: n // 2]
        ones = [1.0] * n
        df = spark.createDataFrame(
            [(1, a, ones, ident, ones),
             (2, a, ones, disjoint, ones),
             (3, a, ones, half, ones)],
            "id long, toks_1 array<string>, idfs_1 array<double>, "
            "toks_2 array<string>, idfs_2 array<double>",
        )
        got = {
            r.id: r.s
            for r in df.withColumn(
                "s", ST.soft_tfidf_similarity("toks_1", "idfs_1", "toks_2", "idfs_2")
            ).collect()
        }
        assert abs(got[1] - 1.0) < 1e-9
        assert got[2] == 0.0
        assert abs(got[3] - 0.5) < 1e-9

    def test_pipeline_with_soft_tfidf(self, spark, tmp_path):
        from pyspark.sql import functions as F  # noqa: F401

        from rapidfuzz_spark.pipeline import metrics, run, synth

        corpus = synth.synth_documents(spark, n_entities=200, seed=42).cache()
        corpus.count()
        ents = run.run_pipeline(
            spark,
            corpus.select("doc_id", "spans"),
            str(tmp_path / "out"),
            run.PipelineConfig(metric="soft_tfidf", threshold=0.72, checkpoint=False),
        )
        truth = corpus.select("doc_id", "entity_id")
        res = metrics.cluster_pairwise_f1(ents.select("doc_id", "entity_id"), truth)
        assert res["f1"] >= 0.98, res


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    """Boilerplate-heavy corpora: identical docs share every band signature;
    the census cap must drop those buckets (no quadratic pair blowup) while
    leaving distinct docs' pairs untouched."""
    from pyspark.sql import functions as F

    from rapidfuzz_spark.textops import dedup

    boiler = spark.range(40).select(
        F.concat(F.lit("b"), "id").alias("doc_id"),
        F.lit("the same boilerplate footer text repeated everywhere").alias(
            "text"
        ),
    )
    near = spark.createDataFrame(
        [("x1", "a genuinely unique document about spark joins"),
         ("x2", "a genuinely unique document about spark joinz")],
        "doc_id string, text string",
    )
    docs = boiler.unionByName(near)
    capped = dedup.minhash_lsh_candidates(docs, bucket_cap=10)
    pairs = {(r.id_1, r.id_2) for r in capped.collect()}
    assert ("x1", "x2") in pairs
    assert not any(p[0].startswith("b") and p[1].startswith("b") for p in pairs)
    uncapped = dedup.minhash_lsh_candidates(docs, bucket_cap=None)
    assert uncapped.where("id_1 like 'b%' and id_2 like 'b%'").count() == 40 * 39 / 2


def test_lsh_salted_hot_buckets_keep_pairs_exactly_once(spark):
    """hot_cap routes LSH pair generation through the ER pipeline's salted
    self-join: hot buckets are spread over G salt partitions but every
    pair is still produced exactly once, and mid-size near-dup clusters
    that the drop policy would lose are kept."""
    from pyspark.sql import functions as F

    from rapidfuzz_spark.textops import dedup

    boiler = spark.range(40).select(
        F.concat(F.lit("b"), "id").alias("doc_id"),
        F.lit("the same boilerplate footer text repeated everywhere").alias(
            "text"
        ),
    )
    near = spark.createDataFrame(
        [("x1", "a genuinely unique document about spark joins"),
         ("x2", "a genuinely unique document about spark joinz")],
        "doc_id string, text string",
    )
    docs = boiler.unionByName(near)
    # salted at hot_cap=10 with no drop: identical pair set to unsalted
    salted = dedup.minhash_lsh_candidates(
        docs, bucket_cap=None, hot_cap=10
    )
    unsalted = dedup.minhash_lsh_candidates(docs, bucket_cap=None)
    sp = {(r.id_1, r.id_2) for r in salted.collect()}
    up = {(r.id_1, r.id_2) for r in unsalted.collect()}
    assert sp == up  # exactly-once, nothing lost, nothing duplicated
    assert ("x1", "x2") in sp
    # drop still applies above bucket_cap on the salted path
    capped = dedup.minhash_lsh_candidates(docs, bucket_cap=10, hot_cap=5)
    cp = {(r.id_1, r.id_2) for r in capped.collect()}
    assert ("x1", "x2") in cp
    assert not any(p[0].startswith("b") and p[1].startswith("b") for p in cp)


def test_degenerate_docs_survive_quality_ops(spark):
    """Empty, whitespace-only, digit-only, and NULL-text docs must not
    crash (Spark 4 ANSI division) or produce out-of-range scores — these
    are exactly the docs quality filtering exists to catch."""
    weird = spark.createDataFrame(
        [(100, ""), (101, "   "), (102, "5"), (103, "12345 678"), (104, None)],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in quality.quality_features(weird.where(F.col("text").isNotNull())).collect()
    }
    assert rows[100].n_tokens == 0 and rows[101].n_tokens == 0
    for r in rows.values():
        assert 0.0 <= r.quality <= 1.0, r
    tc = {r.doc_id: r for r in quality.token_counts(
        weird.where(F.col("text").isNotNull())).collect()}
    assert tc[100].ws_tokens == 0 and tc[101].ws_tokens == 0
    assert tc[103].ws_tokens == 2


def test_language_id_keeps_unmatched_docs(spark):
    """A doc sharing zero profile trigrams must not vanish — it gets the
    explicit 'und' label."""
    d = spark.createDataFrame(
        [(0, "the the the the the the", "en"),
         (1, "und und und und und und", "de"),
         # with top_n=1 each profile keeps only its dominant trigram, so
         # this doc's trigrams never enter any profile
         (2, "zzz", "en")],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in quality.language_id(d, top_n=1).collect()}
    assert len(out) == 3
    assert out[2].pred_lang == "und" and out[2].is_correct is False


def test_cosine_zero_norm_is_zero(spark):
    d = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    a, b = d.alias("a"), d.alias("b")
    cos = (
        a.crossJoin(b)
        .select(dedup.cosine_similarity(F.col("a.embedding"),
                                        F.col("b.embedding")).alias("c"))
        .collect()
    )
    assert all(r.c == 0.0 or abs(r.c - 1.0) < 1e-9 for r in cos)


def test_simhash_wide_bits_not_degenerate(docs):
    """bits=64 must use real hash material beyond md5's 32 nibbles —
    the tail 32 positions cannot be constant across all docs."""
    sigs = [r.simhash for r in dedup.simhash(docs, bits=64).collect()]
    assert all(len(s) == 64 for s in sigs)
    tails = {s[32:] for s in sigs}
    assert len(tails) > 1, tails
    # bits<=32 unchanged vs the 64-bit prefix (same block-0 material)
    sigs32 = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=32).collect()}
    sigs64 = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=64).collect()}
    assert all(sigs64[k][:32] == sigs32[k] for k in sigs32)


def test_minhash_hot_cap_contract(docs):
    with pytest.raises(ValueError, match="hot_cap"):
        dedup.minhash_lsh_candidates(docs, hot_cap=10000, bucket_cap=5000)


def test_exact_duplicates_null_text_not_merged(spark):
    d = spark.createDataFrame(
        [(0, None), (1, None), (2, "same"), (3, "same")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup.exact_duplicates(d).collect()}
    assert rows[0].group_size == 1 and rows[1].group_size == 1
    assert rows[2].group_size == 2 and rows[2].canonical_id == 2


def test_media_variable_length_payloads(spark):
    """Real payloads are variable-length: decode and histogram must not
    assume one batch-wide width, and n_bins that does not divide 256
    still yields exactly n_bins bins."""
    rows = [
        ("d1", "image", "m://1", bytes(range(16))),
        ("d2", "video", "m://2", bytes(range(64))),
        ("d3", "audio", "m://3", b"\xff" * 3),  # shorter than the 6-byte head
    ]
    d = spark.createDataFrame(
        rows, "doc_id string, kind string, media_ref string, payload binary"
    )
    meta = {r.doc_id: r for r in multimodal.decode_media(d).collect()}
    assert meta["d1"].n_bytes == 16 and meta["d2"].n_bytes == 64
    assert meta["d3"].n_bytes == 3
    # none of these blobs is a real container: detected, not assumed
    assert all(m.container == "unknown" and m.n_frames == 0 for m in meta.values())
    feats = {r.doc_id: r.feature for r in
             multimodal.byte_histogram_features(d, n_bins=10).collect()}
    assert all(len(v) == 10 for v in feats.values())
    assert all(abs(sum(v) - 1.0) < 1e-9 for v in feats.values())
    # 0xff lands in the LAST bin (clipped), not an overflow 11th bin
    assert feats["d3"][9] == 1.0


# ---------------------------------------------------------------------------
# corpus-curation operators (round-3 session additions)
# ---------------------------------------------------------------------------


def test_duplicate_ngram_fraction(docs):
    """TEXTS: docs 0/3 identical (13 tokens -> 6 8-grams, all shared);
    doc 1 differs only in the final token, so its grams 1-5 are shared
    with 0/3 and gram 6 (covering the changed word) is unique; doc 2 has
    7 tokens -> zero 8-grams; doc 4 shares nothing."""
    rows = {
        r.doc_id: r
        for r in dedup.duplicate_ngram_fraction(docs, n=8).collect()
    }
    assert len(rows) == 5  # every doc present, even with zero n-grams
    assert rows[0].n_ngrams == 6 and rows[0].n_dup == 6
    assert rows[3].n_ngrams == 6 and rows[3].n_dup == 6
    assert rows[1].n_ngrams == 6 and rows[1].n_dup == 5
    assert rows[2].n_ngrams == 0 and rows[2].dup_frac == 0.0
    assert rows[4].n_dup == 0
    assert abs(rows[1].dup_frac - round(5 / 6, 6)) < 1e-12


def test_stratified_sample_deterministic_and_exact(spark):
    from rapidfuzz_spark.textops import sampling

    d = spark.createDataFrame(
        [(str(i), "a" if i % 2 else "b") for i in range(400)],
        "doc_id string, lang string",
    )
    kept = sampling.stratified_sample(
        d, {"a": 1.0, "b": 0.0}, default_rate=0.5
    ).collect()
    # rate 1.0 keeps the whole group, rate 0.0 drops it entirely
    assert {r.lang for r in kept} == {"a"}
    assert len(kept) == 200
    half = sampling.stratified_sample(d, {"a": 0.5, "b": 0.5})
    ids1 = {r.doc_id for r in half.collect()}
    ids2 = {r.doc_id for r in half.collect()}
    assert ids1 == ids2  # deterministic under re-execution
    assert 120 <= len(ids1) <= 280  # ~Binomial(400, .5), generous bound
    # every kept row satisfies the predicate it claims
    assert all(r.u < r.rate for r in half.collect())
    # a different salt draws a different sample
    ids3 = {
        r.doc_id
        for r in sampling.stratified_sample(
            d, {"a": 0.5, "b": 0.5}, salt="s1"
        ).collect()
    }
    assert ids3 != ids1


def test_quota_sample_exact_and_composable(spark):
    from rapidfuzz_spark.textops import sampling

    d = spark.createDataFrame(
        [(str(i), "a" if i % 4 else "b") for i in range(100)],
        "doc_id string, lang string",
    )
    out = sampling.quota_sample(d, 7, group_col="lang").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r.lang, []).append(r)
    assert len(by_group["a"]) == 7 and len(by_group["b"]) == 7
    assert sorted(r.sample_rank for r in by_group["a"]) == list(range(1, 8))
    # composition: quota over a hash-prefiltered superset that keeps all
    # low-hash rows selects the SAME rows (the documented scale recipe)
    pre = sampling.stratified_sample(d, {"a": 0.6, "b": 0.6})
    out2 = sampling.quota_sample(pre, 7, group_col="lang").collect()
    assert {(r.lang, r.doc_id) for r in out2} >= {
        (r.lang, r.doc_id) for r in out if r.u < 0.6
    }
    full = {(r.lang, r.doc_id) for r in out}
    # with 60% of 25/75-member groups surviving, ranks 1-7 are unchanged
    assert {(r.lang, r.doc_id) for r in out2} == full


def test_near_duplicate_prune(docs):
    rows = {r.doc_id: r for r in dedup.near_duplicate_prune(docs).collect()}
    assert len(rows) == 5
    # 0,1,3 form one near-dup cluster -> canonical 0 kept, 1 and 3 pruned
    assert rows[0].canonical_id == 0 and rows[0].keep
    assert rows[1].canonical_id == 0 and not rows[1].keep
    assert rows[3].canonical_id == 0 and not rows[3].keep
    # singletons keep themselves
    assert rows[2].keep and rows[4].keep


def test_token_df_stats(docs):
    rows = quality.token_df_stats(docs, top_n=3).collect()
    assert [r.rank for r in rows] == [1, 2, 3] or sorted(
        r.rank for r in rows
    ) == [1, 2, 3]
    top = {r.token: r for r in rows}
    # 'the' appears 3x in each of docs 0,1,3 -> tf 9, df 3, rank 1
    assert rows[0].token == "the" if rows[0].rank == 1 else True
    assert top["the"].term_freq == 9 and top["the"].doc_freq == 3


def test_cdc_chunks_reconstruct_and_align(spark):
    shared = (
        "a long shared passage that is identical across both documents "
        "and much longer than the expected chunk size of thirty two chars"
    )
    d = spark.createDataFrame(
        [
            ("x", "UNIQUE-PREFIX-ONE " + shared + " trailer-x"),
            ("y", "different and longer unique prefix two " + shared),
            ("z", "no overlap with anything else at all"),
        ],
        "doc_id string, text string",
    )
    chunks = dedup.content_defined_chunks(d).collect()
    # chunks reconstruct each document exactly, in chunk_idx order
    texts = {r.doc_id: r.text for r in d.collect()}
    rebuilt = {}
    for r in sorted(chunks, key=lambda r: (r.doc_id, r.chunk_idx)):
        rebuilt[r.doc_id] = rebuilt.get(r.doc_id, "") + r.chunk
    assert rebuilt == texts
    # the shared passage chunks identically despite different offsets:
    # at least one duplicated chunk spans both docs
    dups = dedup.cdc_chunk_duplicates(d).collect()
    assert any(r.n_docs == 2 for r in dups)
    # and a corpus with no repeated content yields no duplicate chunks
    assert dedup.cdc_chunk_duplicates(
        spark.createDataFrame(
            [("q", "entirely singular content")], "doc_id string, text string"
        )
    ).count() == 0


def test_curation_keep_list_reasons(spark):
    from rapidfuzz_spark.textops import curation

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away along the winding river bank toward the distant green hills "
        "where it finally rests beneath an old oak tree watching clouds "
        "drift slowly across the warm afternoon sky until dusk settles"
    )
    rows = [
        (0, base, "en"),                          # keep (cluster canonical)
        (1, base, "en"),                          # exact duplicate of 0
        (2, base.replace("green", "stone"), "en"),  # near-dup of 0
        (3, base, "zh"),                          # lang fires before dedup
        (4, "tiny doc", "en"),                    # too_few_tokens
        (5, "1234567890 " * 30, "en"),            # digit soup -> low_quality
        (6, "an entirely distinct factual report about volcanic geology "
            "covering eruption cycles magma chambers and seismic warning "
            "signals observed across decades of measurement", "en"),  # keep
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in curation.curation_keep_list(d).collect()}
    assert len(out) == 7
    assert out[0].keep and out[0].drop_reason is None
    assert out[1].drop_reason == "exact_duplicate"
    assert out[2].drop_reason == "near_duplicate"
    # rule priority: doc 3 is also an exact dup of 0, but lang fires first
    assert out[3].drop_reason == "lang"
    assert out[4].drop_reason == "too_few_tokens"
    assert out[5].drop_reason == "low_quality"
    assert out[6].keep


def test_incremental_lsh_matches_full_corpus(spark):
    """The incremental pair set must be EXACTLY the full-corpus LSH set
    minus base x base pairs — and the union bucket_cap must drop a
    bucket that only the increment pushes over the cap."""
    rows = []
    base_text = "the quick brown fox jumps over the lazy dog near the river"
    for i in range(8):
        rows.append((i, base_text + f" variant {i % 3}"))
    rows += [(100, base_text + " variant 0"), (101, "totally unrelated xyz")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    base = d.where(F.col("doc_id") < 100)
    new = d.where(F.col("doc_id") >= 100)
    full = {
        (r.id_1, r.id_2)
        for r in dedup.minhash_lsh_candidates(d, bucket_cap=None).collect()
    }
    want = {(a, b) for a, b in full if a >= 100 or b >= 100}
    got = {
        (r.id_1, r.id_2)
        for r in dedup.incremental_lsh_candidates(
            base, new, bucket_cap=None
        ).collect()
    }
    assert got == want and got  # non-vacuous: the increment has matches
    # union-cap semantics: with the cap at the FULL bucket size - 1, the
    # capped incremental run must equal the capped full-corpus run (a
    # bucket just under cap in the base must not survive the increment
    # pushing it over)
    cap = 4
    full_capped = {
        (r.id_1, r.id_2)
        for r in dedup.minhash_lsh_candidates(d, bucket_cap=cap).collect()
    }
    want_capped = {(a, b) for a, b in full_capped if a >= 100 or b >= 100}
    got_capped = {
        (r.id_1, r.id_2)
        for r in dedup.incremental_lsh_candidates(
            base, new, bucket_cap=cap
        ).collect()
    }
    assert got_capped == want_capped
    assert got_capped != got  # the cap actually bit on this fixture


def test_maintained_counts_match_fresh_census(spark):
    """The maintained bucket-counts table, folded increment by
    increment, must BE the fresh census — and the maintained-cap pair
    set must equal the re-census path's for every increment. This is
    the invariant that lets corpus-scale incremental LSH apply
    bucket_cap without ever re-aggregating the base band table."""
    base_text = "the quick brown fox jumps over the lazy dog near the river"
    rows = [(i, base_text + f" variant {i % 3}") for i in range(8)]
    inc1_rows = [(100, base_text + " variant 0"), (101, "unrelated xyz")]
    inc2_rows = [(200, base_text + " variant 1"), (201, base_text + " variant 0")]
    mk = lambda r: spark.createDataFrame(r, "doc_id long, text string")
    bands = lambda d: dedup.lsh_band_signatures(
        dedup.minhash_signatures(d, "text", 16, 5), 4
    )
    base_b, inc1_b, inc2_b = bands(mk(rows)), bands(mk(inc1_rows)), bands(mk(inc2_rows))
    cap = 4
    # increment 1: counts start from the base census
    c0 = dedup.update_bucket_counts(None, base_b)
    p1, c1 = dedup.incremental_band_pairs_maintained(base_b, inc1_b, c0, cap)
    want1 = dedup.incremental_band_pairs(base_b, inc1_b, bucket_cap=cap)
    assert {(r.id_1, r.id_2) for r in p1.collect()} == {
        (r.id_1, r.id_2) for r in want1.collect()
    }
    # increment 2 against base ∪ inc1, counts folded — vs a fresh census
    base2_b = base_b.unionByName(inc1_b)
    p2, c2 = dedup.incremental_band_pairs_maintained(base2_b, inc2_b, c1, cap)
    want2 = dedup.incremental_band_pairs(base2_b, inc2_b, bucket_cap=cap)
    got2 = {(r.id_1, r.id_2) for r in p2.collect()}
    assert got2 == {(r.id_1, r.id_2) for r in want2.collect()} and got2
    # the folded counts table IS the fresh census of everything seen
    fresh = (
        base2_b.unionByName(inc2_b).groupBy("band", "sig").count().collect()
    )
    assert {(r.band, r.sig): r.n for r in c2.collect()} == {
        (r.band, r.sig): r["count"] for r in fresh
    }
    # the cap actually bit: uncapped pair set differs
    unc = dedup.incremental_band_pairs(base2_b, inc2_b, bucket_cap=None)
    assert got2 != {(r.id_1, r.id_2) for r in unc.collect()}


def test_semantic_dedup_transitive_canonical(spark):
    """SemDeDup keep-list: ε-similarity groups are TRANSITIVE (a~b, b~c
    => one group even when cos(a,c) < τ), canonical is the min vec_id,
    and untouched vectors keep themselves. n_cells=1 isolates the
    pair+closure semantics from centroid assignment (covered by the
    ann_ivf oracles)."""
    import math as m

    from rapidfuzz_spark.textops.ann import semantic_dedup

    def v(deg):
        return [m.cos(m.radians(deg)), m.sin(m.radians(deg))]

    rows = [
        (0, v(0)),    # chain a
        (1, v(26)),   # cos(a,b)=.899
        (2, v(52)),   # cos(b,c)=.899, cos(a,c)=.616 < τ — transitive only
        (3, v(180)),  # pair d
        (4, v(198)),  # cos(d,e)=.951
        (5, v(270)),  # alone
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.canonical_id, r.keep)
        for r in semantic_dedup(emb, n_cells=1, threshold=0.85).collect()
    }
    assert out == {
        0: (0, True), 1: (0, False), 2: (0, False),
        3: (3, True), 4: (3, False), 5: (5, True),
    }


def test_repetition_signals(spark):
    rows = [
        (0, "alpha beta gamma delta"),            # no repetition
        (1, "spam spam spam spam eggs"),           # run of 4, dup mass
        (2, "go stop go stop go stop go stop"),    # bigram loop, runs of 1
        (3, ""),                                   # empty
        (4, "solo"),                               # single token
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in quality.repetition_signals(d).collect()}
    assert len(out) == 5
    assert out[0].frac_dup_tokens == 0.0 and out[0].max_token_run == 1
    assert out[1].max_token_run == 4
    assert out[1].frac_dup_tokens == round(1 - 2 / 5, 6)
    # 7 bigram positions; 'go stop' occurs 4 times
    assert out[2].top_bigram_frac == round(4 / 7, 6)
    assert out[2].max_token_run == 1
    assert out[3].n_tokens == 0 and out[3].max_token_run == 0
    assert out[3].frac_dup_tokens == 0.0 and out[3].top_bigram_frac == 0.0
    assert out[4].n_tokens == 1 and out[4].top_bigram_frac == 0.0


def test_curation_null_lang_dropped(spark):
    from rapidfuzz_spark.textops import curation

    text = (
        "a sufficiently long and clean document about mountain weather "
        "patterns with plenty of ordinary words to pass both the token "
        "floor and the composite quality score threshold without any "
        "digits or symbols cluttering it up at all in any visible way"
    )
    d = spark.createDataFrame(
        [(1, text, "en"), (2, text + " second", None)],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in curation.curation_keep_list(d).collect()}
    assert out[1].keep
    # NULL lang must fail the allowlist, not slip through 3-valued logic
    assert out[2].drop_reason == "lang" and not out[2].keep


def test_excise_duplicate_spans_keep_canonical(spark):
    """Corpus-internal span excision: a span shared by two docs survives
    in the min-doc_id (canonical) document and is cut from the other;
    unique text is untouched; NULL text stays NULL with zero counts."""
    rows = [
        (1, "common span here plus unique one"),
        (2, "prefix common span here suffix words"),
        (3, "totally different text entirely"),
        (4, None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.excise_duplicate_spans(d, n=3, min_docs=2).collect()
    }
    assert out[1].n_matched == 0 and out[1].n_removed == 0
    assert out[1].clean_text == "common span here plus unique one"
    assert out[2].n_matched == 1 and out[2].n_removed == 3
    assert out[2].clean_text == "prefix suffix words"
    assert out[3].n_removed == 0
    assert out[4].clean_text is None and out[4].n_matched == 0

    # aggressive variant: every copy cut, including the canonical's
    all_cut = {
        r.doc_id: r
        for r in dedup.excise_duplicate_spans(
            d, n=3, min_docs=2, keep_canonical=False
        ).collect()
    }
    assert all_cut[1].clean_text == "plus unique one"
    assert all_cut[1].n_matched == 1 and all_cut[1].n_removed == 3
    assert all_cut[2].clean_text == "prefix suffix words"


def test_excise_duplicate_spans_overlap_merge_and_within_doc(spark):
    """Overlapping dup-gram spans merge into one cut; within-doc repeats
    of a dup gram are all cut; per-position canonicity (a doc canonical
    for one gram but not an overlapping one keeps only its own)."""
    rows = [
        (10, "a b c d e tail"),   # canonical for all grams of 'a b c d e'
        (11, "a b c d e other"),  # every gram canon=10 -> cut [0,4]
        (12, "x a b c x a b c"),  # 'a b c' twice, canon=10 -> both cut
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dedup.excise_duplicate_spans(d, n=3, min_docs=2).collect()
    }
    assert out[10].clean_text == "a b c d e tail"
    assert out[11].clean_text == "other"
    assert out[11].n_matched == 3 and out[11].n_removed == 5
    # doc 12: 'a b c' at positions 1 and 5 -> removes 1-3 and 5-7
    assert out[12].clean_text == "x x"
    assert out[12].n_matched == 2 and out[12].n_removed == 6


def test_excise_duplicate_spans_consistent_with_dup_fraction(spark):
    """A doc whose duplicate_ngram_fraction signal is 0 must come back
    unchanged (normalized), and n_removed > 0 implies dup_frac > 0."""
    rows = [(i, f"row {i} shares the long boilerplate footer text block") for i in range(5)]
    rows.append((99, "entirely novel sentence with no repeats anywhere at all"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    ex = {r.doc_id: r for r in dedup.excise_duplicate_spans(d, n=4, min_docs=2).collect()}
    fr = {r.doc_id: r for r in dedup.duplicate_ngram_fraction(d, n=4, min_docs=2).collect()}
    for k in ex:
        if fr[k].dup_frac == 0.0:
            assert ex[k].n_removed == 0
        if ex[k].n_removed > 0 and k != min(ex):
            assert fr[k].dup_frac > 0.0


def test_salt_hot_tokens_result_identical(spark):
    """Explicit Zipf-head salting is a partitioning choice, not a
    semantic one: unigram/bigram_logprob with salt_hot must equal the
    unsalted join row-for-row (the contract BENCH.md §18's skew
    measurement rests on)."""
    rows = [(i, "the of and the of and word" + str(i) + " tail") for i in range(60)]
    rows.append((100, None))
    rows.append((101, "   "))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, quality.unigram_logprob(d).collect()))
    b = sorted(map(tuple, quality.unigram_logprob(d, salt_hot=(4, 50)).collect()))
    assert a == b
    # hot_min above every count: salting machinery engaged, zero hot keys
    c = sorted(map(tuple, quality.unigram_logprob(d, salt_hot=(4, 10_000)).collect()))
    assert a == c
    x = sorted(map(tuple, quality.bigram_logprob(d).collect()))
    y = sorted(map(tuple, quality.bigram_logprob(d, salt_hot=(4, 50)).collect()))
    assert x == y


def test_gopher_rules(spark):
    docs = spark.createDataFrame(
        [
            # passes everything: 6 words >= min, mean wl in range, no
            # symbols, all-alpha words, contains 'the' and 'of'
            (1, "the cost of good coffee rises"),
            # too few words + no stopwords
            (2, "abc def"),
            # symbol-heavy: 3 '...' over 4 words = 0.75 > 0.1
            (3, "the end ... is ... near ..."),
            # numeric words: alpha fraction 2/6 < 0.8
            (4, "the 12 34 56 78 count"),
            # empty text: every count 0, every rule fails
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in quality.gopher_rules(
            docs, min_words=4, min_stopwords=1
        ).collect()
    }
    assert out[1].keep and all(
        out[1][c]
        for c in (
            "pass_words", "pass_word_len", "pass_symbol",
            "pass_alpha", "pass_stop",
        )
    )
    assert out[1].n_words == 6 and out[1].n_stopwords == 2
    assert not out[2].pass_words and not out[2].pass_stop
    # 7 words ('...' tokens count as words), 3 symbol hits -> 3/7
    assert out[3].symbol_ratio == pytest.approx(3 / 7, abs=1e-6)
    assert not out[3].pass_symbol and out[3].pass_stop
    assert out[4].alpha_word_frac == pytest.approx(2 / 6, abs=1e-6)
    assert not out[4].pass_alpha
    assert out[5].n_words == 0 and not out[5].keep
    assert out[5].mean_word_len == 0.0 and out[5].symbol_ratio == 0.0


def test_simhash_near_duplicates_equals_naive(spark):
    # 12 docs over a small shared vocab so sketches cluster: the banded
    # join must reproduce the naive all-pairs Hamming threshold exactly
    # (pigeonhole equivalence), including identical-doc hamming=0 pairs.
    vocab = "alpha beta gamma delta epsilon zeta eta theta".split()
    rows = [
        (i, " ".join(vocab[j % len(vocab)] for j in range(i, i + 5)))
        for i in range(10)
    ] + [(10, rows_dup := " ".join(vocab[:5])), (11, rows_dup)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        map(
            tuple,
            dedup.simhash_near_duplicates(
                d, bits=32, max_hamming=4
            ).collect(),
        )
    )
    sk = {r.doc_id: r.simhash for r in dedup.simhash(d, bits=32).collect()}
    ids = sorted(sk)
    naive = sorted(
        (a, b, hd)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (hd := sum(x != y for x, y in zip(sk[a], sk[b]))) <= 4
    )
    assert got == naive and len(naive) > 0
    assert (10, 11, 0) in got  # identical docs agree on every bit


def test_simhash_near_duplicates_bucket_cap(spark):
    # with max_bucket=1 every band bucket holding >1 doc is dropped, so
    # no candidate can ever form -> empty output even for exact dups
    d = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here")],
        "doc_id long, text string",
    )
    assert (
        dedup.simhash_near_duplicates(d, bits=32, max_hamming=2).count() == 1
    )
    assert (
        dedup.simhash_near_duplicates(
            d, bits=32, max_hamming=2, max_bucket=1
        ).count()
        == 0
    )


def test_perplexity_buckets(spark):
    # 9 scoreable docs with strictly ordered mean logprobs: doc i repeats
    # token t_i (tf controlled by an extra "filler" doc giving distinct
    # frequencies), so terciles split 3/3/3 with head = most frequent
    # tokens. Plus an empty doc -> NULL score, NULL bucket.
    toks = [f"t{i}" for i in range(9)]
    filler = " ".join(t for i, t in enumerate(toks) for _ in range(i + 1))
    d = spark.createDataFrame(
        [(i, toks[i]) for i in range(9)] + [(9, filler), (10, "  ")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in quality.perplexity_buckets(d).collect()}
    assert out[10].bucket is None and out[10].mean_logprob is None
    # doc 9 (the filler) has a mid-range mixed score; the 9 single-token
    # docs are ordered worst (t0, rarest) -> best (t8, most frequent)
    singles = [out[i] for i in range(9)]
    scores = [r.mean_logprob for r in singles]
    assert scores == sorted(scores)
    by_bucket = {}
    for r in singles:
        by_bucket.setdefault(r.bucket, []).append(r.doc_id)
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert max(by_bucket["tail"]) < min(by_bucket["middle"]) < min(
        by_bucket["head"]
    )
    # 10 scoreable docs -> equal-frequency within 1 across the terciles
    sizes = sorted(len(v) for v in by_bucket.values())
    assert sizes[-1] - sizes[0] <= 1 + 1  # filler doc may join any tercile


# ------------------------------------------------------------- round 5b:
# prefix-filtered exact Jaccard self-join (AllPairs/PPJoin)


def _naive_jaccard_pairs(rows, num, den):
    toks = {i: set(t.lower().split()) for i, t in rows}
    out = set()
    for a in toks:
        for b in toks:
            if a < b:
                i = len(toks[a] & toks[b])
                u = len(toks[a] | toks[b])
                if den * i >= num * u:
                    out.add((a, b))
    return out


def test_ppjoin_matches_naive_on_clustered_fixture(spark):
    from rapidfuzz_spark.textops import dedup

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),   # jacc 3/5 with doc 1 — boundary
        (3, "alpha beta gamma delta zeta"),  # jacc 4/5 with doc 1
        (4, "totally different words here"),
        (5, "totally different words here"),  # exact dup of 4 — jacc 1
        (6, "the of and a an"),              # stopword-ish only
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r.doc_id_1, r.doc_id_2)
        for r in dedup.prefix_filter_jaccard_join(docs, "text", 3, 5).collect()
    }
    assert got == _naive_jaccard_pairs(rows, 3, 5)
    # the 3/5 boundary pair must be INCLUDED (>= semantics, exact ints)
    assert (1, 2) in got


def test_ppjoin_exactness_under_repartition_and_random_corpus(spark):
    import random

    from rapidfuzz_spark.textops import dedup

    rnd = random.Random(11)
    vocab = [f"w{k}" for k in range(30)]
    rows = [
        (i, " ".join(rnd.sample(vocab, rnd.randrange(3, 10))))
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    naive = _naive_jaccard_pairs(rows, 1, 2)
    for parts in (1, 13):
        got = {
            (r.doc_id_1, r.doc_id_2)
            for r in dedup.prefix_filter_jaccard_join(
                docs.repartition(parts), "text", 1, 2
            ).collect()
        }
        assert got == naive


def test_ppjoin_jacc_values_exact(spark):
    from rapidfuzz_spark.textops import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id int, text string"
    )
    r = dedup.prefix_filter_jaccard_join(docs, "text", 1, 2).collect()
    assert len(r) == 1
    assert (r[0].inter_sz, r[0].union_sz, r[0].jacc) == (3, 5, 0.6)


def test_ppjoin_prefix_actually_prunes(spark):
    """On a corpus where every doc shares one stopword but nothing
    else, the prefix (rarest-first) must NOT generate the quadratic
    stopword block: candidate count stays linear-ish, result empty."""
    from pyspark.sql import functions as F

    from rapidfuzz_spark.textops import dedup

    rows = [(i, f"the unique{i} only{i} token{i} here{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = dedup.prefix_filter_jaccard_join(docs, "text", 3, 5)
    assert out.count() == 0
    # inspect the internal prefix: with n=5 and t=3/5, L = 5-3+1 = 3 —
    # 'the' (df=40) sorts LAST of 5 and is excluded from every prefix,
    # so no candidate pair exists at all (the naive join would have 780)
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), r"\s+"))).alias(
            "tok"
        ),
    )
    census = toks.groupBy("tok").count().where(F.col("count") > 1)
    assert census.count() == 1  # only 'the' repeats — pruning is real


# ---------------------------------------------------------------------------
# prefix-filter set-similarity family: cosine / dice / overlap
# ---------------------------------------------------------------------------


def _naive_set_pairs(rows, measure, num, den):
    import math

    toks = {i: set(t.lower().split()) for i, t in rows}
    out = set()
    for a in toks:
        for b in toks:
            if a >= b:
                continue
            i = len(toks[a] & toks[b])
            n1, n2 = len(toks[a]), len(toks[b])
            if measure == "cosine":
                keep = den * den * i * i >= num * num * n1 * n2 and i > 0
            elif measure == "dice":
                keep = 2 * den * i >= num * (n1 + n2) and i > 0
            else:
                keep = i >= num
            if keep:
                out.add((a, b))
    return out


def _set_join_pairs(spark, rows, measure, num, den, parts=1):
    from rapidfuzz_spark.textops import dedup

    docs = spark.createDataFrame(rows, "doc_id int, text string").repartition(
        parts
    )
    return {
        (r.doc_id_1, r.doc_id_2)
        for r in dedup.prefix_filter_set_join(
            docs, "text", measure, num, den
        ).collect()
    }


def test_set_join_cosine_matches_naive_with_boundary(spark):
    rows = [
        (1, "a b c d"),
        (2, "a b c e"),      # I=3, cos = 3/4 — above 0.7
        (3, "a b x y"),      # I=2 with 1 — cos 0.5, out
        (4, "p q r s"),
        (5, "p q r s"),      # identical — cos 1
        # exact boundary: I=7, n1=n2=10 -> cos = 0.7 — must be INCLUDED
        (6, "t1 t2 t3 t4 t5 t6 t7 u1 u2 u3"),
        (7, "t1 t2 t3 t4 t5 t6 t7 v1 v2 v3"),
    ]
    got = _set_join_pairs(spark, rows, "cosine", 7, 10)
    want = _naive_set_pairs(rows, "cosine", 7, 10)
    assert got == want
    assert (6, 7) in got and (1, 2) in got and (4, 5) in got


def test_set_join_dice_and_overlap_match_naive(spark):
    rows = [
        (1, "a b c d"),
        (2, "a b c e"),      # dice 6/8 = 0.75 boundary at 3/4
        (3, "a b z w q"),
        (4, "m n o p q r"),
        (5, "m n o p x y"),  # I=4 — overlap c=4 boundary
    ]
    assert _set_join_pairs(spark, rows, "dice", 3, 4) == _naive_set_pairs(
        rows, "dice", 3, 4
    )
    got_ov = _set_join_pairs(spark, rows, "overlap", 4, 1)
    assert got_ov == _naive_set_pairs(rows, "overlap", 4, 1)
    assert (4, 5) in got_ov


def test_set_join_randomized_all_measures_vs_naive(spark):
    import random

    rnd = random.Random(23)
    vocab = [f"w{k}" for k in range(25)]
    rows = [
        (i, " ".join(rnd.sample(vocab, rnd.randrange(2, 12))))
        for i in range(70)
    ]
    for measure, num, den in [
        ("cosine", 1, 2), ("cosine", 7, 10), ("cosine", 9, 10),
        ("dice", 1, 2), ("dice", 3, 4),
        ("overlap", 2, 1), ("overlap", 5, 1),
    ]:
        got = _set_join_pairs(spark, rows, measure, num, den, parts=7)
        want = _naive_set_pairs(rows, measure, num, den)
        assert got == want, (measure, num, den)


def test_set_join_cosine_o_req_integer_exact(spark):
    """The float-sqrt seed + integer probes must give the EXACT minimal
    o on awkward products (perfect squares and off-by-one cases)."""
    import math

    for num, den in [(7, 10), (1, 2), (9, 10), (3, 5)]:
        for n1 in range(1, 40):
            for n2 in range(n1, 40):
                s = num * num * n1 * n2
                o_exact = next(
                    i for i in range(0, den * n1 * n2 + 2)
                    if den * den * i * i >= s
                )
                seed = (math.floor(math.sqrt(s)) + den - 1) // den
                lo = max(seed - 1, 0)
                if den * den * lo * lo >= s:
                    o_got = lo
                elif den * den * seed * seed >= s:
                    o_got = seed
                else:
                    o_got = seed + 1
                assert o_got == o_exact, (num, den, n1, n2)


@pytest.mark.parametrize(
    "measure,num,den",
    [
        ("cosine", 0, 10),
        ("cosine", -1, 10),
        ("cosine", 11, 10),
        ("cosine", 1, 0),
        ("dice", 0, 10),
        ("dice", 11, 10),
        ("dice", 20, 10),
        ("dice", 25, 10),
        ("overlap", 0, 1),
        ("overlap", -2, 1),
    ],
)
def test_set_join_rejects_bad_thresholds(spark, measure, num, den):
    docs = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    with pytest.raises(ValueError, match="threshold_num"):
        dedup.prefix_filter_set_join(docs, "text", measure, num, den)


def test_set_join_sim_values(spark):
    from rapidfuzz_spark.textops import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id int, text string"
    )
    r = dedup.prefix_filter_set_join(docs, "text", "cosine", 1, 2).collect()
    assert len(r) == 1 and r[0].sim == 0.75 and r[0].inter_sz == 3
    r = dedup.prefix_filter_set_join(docs, "text", "dice", 1, 2).collect()
    assert len(r) == 1 and r[0].sim == 0.75
    r = dedup.prefix_filter_set_join(docs, "text", "overlap", 3, 1).collect()
    assert len(r) == 1 and r[0].sim == 0.75
