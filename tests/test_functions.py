"""UDF parity: every pandas-UDF Column function must agree with the scalar
API (which is itself oracle-tested against the reference) on a mixed batch
of pairs, including nulls and cutoff filtering."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import rapidfuzz_spark.functions as RF
from rapidfuzz_spark import api

random.seed(11)
POOL = "abcdef XYИ香"
PAIRS = [
    (
        "".join(random.choice(POOL) for _ in range(random.randint(0, 40))),
        "".join(random.choice(POOL) for _ in range(random.randint(0, 40))),
    )
    for _ in range(300)
] + [
    ("South Korea", "North Korea"),
    ("kitten", "sitting"),
    ("", ""),
    ("a" * 100, "b" * 100),
    (None, "x"),
    ("x", None),
]


@pytest.fixture(scope="module")
def pairs_df(spark):
    return spark.createDataFrame(PAIRS, ["s1", "s2"]).cache()


METRICS = [
    "levenshtein",
    "indel",
    "lcs_seq",
    "osa",
    "damerau_levenshtein",
    "jaro",
    "jaro_winkler",
    "prefix",
    "postfix",
    "hamming",
]
VARIANTS = ["distance", "similarity", "normalized_distance", "normalized_similarity"]
# hamming without pad raises in the scalar API on unequal lengths
PARAMS = {"hamming": {"pad": True}}
CUTOFFS = {"distance": (3, 15), "similarity": (5, 20)}


@pytest.mark.parametrize("metric", METRICS)
def test_udf_matches_scalar(spark, pairs_df, metric):
    """Every variant, uncut and under two cutoffs, against the scalar
    API's value and its ``score_cutoff`` None."""
    params = PARAMS.get(metric, {})
    cases = [(v, c) for v in VARIANTS for c in (None,) + (
        (0.3, 0.7) if metric.startswith("jaro") or v.startswith("normalized")
        else CUTOFFS[v]
    )]
    cols = [
        getattr(RF, f"{metric}_{v}")("s1", "s2", score_cutoff=c, **params).alias(
            f"c{i}"
        )
        for i, (v, c) in enumerate(cases)
    ]
    rows = pairs_df.select("s1", "s2", *cols).collect()
    scalar = getattr(api, metric)
    for r in rows:
        for i, (v, c) in enumerate(cases):
            got = r[f"c{i}"]
            if r.s1 is None or r.s2 is None:
                assert got is None
                continue
            exp = getattr(scalar, v)(r.s1, r.s2, score_cutoff=c, **params)
            if exp is None:
                assert got is None, (metric, v, c, r.s1, r.s2, got)
            else:
                assert got == pytest.approx(exp, abs=1e-9), (metric, v, c, r.s1, r.s2)


def test_unsupported_keyword_raises(spark):
    """A keyword argument the metric does not take is a TypeError at the
    driver, as in the scalar API — never silently ignored."""
    cases = [
        (RF.indel_distance, {"weights": (5, 5, 5)}),
        (RF.levenshtein_distance, {"wieghts": (1, 1, 2)}),
        (RF.osa_distance, {"weights": (1, 1, 2)}),
        (RF.jaro_similarity, {"prefix_weight": 0.2}),
        (RF.hamming_normalized_similarity, {"weights": (1, 1, 1)}),
        (RF.jaro_winkler_distance, {"pad": True}),
        (RF.levenshtein_distance_seq, {"strict": True}),
    ]
    for fn, kw in cases:
        with pytest.raises(TypeError, match="unexpected keyword argument"):
            fn("s1", "s2", **kw)
    with pytest.raises(TypeError):
        api.indel.distance("kitten", "sitting", weights=(5, 5, 5))


def test_udf_cutoff_null_semantics(spark, pairs_df):
    rows = (
        pairs_df.na.drop()
        .select(
            "s1",
            "s2",
            RF.levenshtein_distance("s1", "s2", score_cutoff=5).alias("d5"),
            RF.ratio("s1", "s2", score_cutoff=0.5).alias("r05"),
        )
        .collect()
    )
    for r in rows:
        d = api.levenshtein.distance(r.s1, r.s2)
        assert r.d5 == (d if d <= 5 else None)
        rt = api.fuzz.ratio(r.s1, r.s2)
        assert (r.r05 is None) == (rt < 0.5)
        if r.r05 is not None:
            assert r.r05 == pytest.approx(rt)


def test_hamming_udf_null_on_length_mismatch(spark):
    df = spark.createDataFrame([("ham", "hamming"), ("abc", "abd")], ["s1", "s2"])
    rows = df.select(
        RF.hamming_distance("s1", "s2").alias("strict"),
        RF.hamming_distance("s1", "s2", pad=True).alias("padded"),
    ).collect()
    assert rows[0].strict is None and rows[0].padded == 4
    assert rows[1].strict == 1 and rows[1].padded == 1


def test_weighted_levenshtein_udf(spark):
    df = spark.createDataFrame([("kitten", "sitting")], ["s1", "s2"])
    r = df.select(
        RF.levenshtein_distance("s1", "s2", weights=(1, 1, 2)).alias("w")
    ).collect()[0]
    assert r.w == 5


def test_token_sort_key(spark):
    df = spark.createDataFrame([("New York  Mets!",), ("mets york new",)], ["t"])
    vals = [r.k for r in df.select(RF.token_sort_key("t").alias("k")).collect()]
    assert vals[0] == vals[1] == "mets new york"


def test_hamming_strict_mode(spark):
    """Column-API parity with the scalar API's DifferentLengthArgs
    (reference hamming.rs:232-235): strict=True fails the job on unequal
    lengths, the default yields null."""
    import pytest

    import rapidfuzz_spark.functions as RF

    df = spark.createDataFrame([("abc", "abd"), ("ab", "abcd")], "a string, b string")
    got = [r.d for r in df.select(RF.hamming_distance("a", "b").alias("d")).collect()]
    assert sorted(got, key=str) == [1, None]
    with pytest.raises(Exception, match="DifferentLengthArgs|unequal lengths"):
        df.select(RF.hamming_distance("a", "b", strict=True).alias("d")).collect()


def test_hamming_strict_null_inputs_are_null(spark):
    """A null input is SQL null, not a strict-mode length error — and the
    strict raise must fire independent of any cutoff prefilter."""
    import pytest

    df = spark.createDataFrame(
        [(None, "abc"), ("abc", "abd"), ("xyz", None)], "a string, b string"
    )
    got = [r.d for r in df.select(
        RF.hamming_distance("a", "b", strict=True).alias("d")).collect()]
    assert sorted(got, key=str) == [1, None, None]
    # unequal real pair raises even when the cutoff would have pruned it
    bad = spark.createDataFrame([("ab", "abcdefgh")], "a string, b string")
    with pytest.raises(Exception, match="DifferentLengthArgs|unequal lengths"):
        bad.select(
            RF.hamming_distance("a", "b", strict=True, score_cutoff=2).alias("d")
        ).collect()


def test_hamming_seq_strict_null_inputs_are_null(spark):
    """Seq-path mirror of the string-path strict fix: a null array (or a
    null element) pairs to SQL null, never DifferentLengthArgs — strict
    checks lengths only between real rows."""
    import pytest

    df = spark.createDataFrame(
        [(None, [9, 9]), ([1, 2, 4], [1, 2, 3]), ([1, None], [1, 2])],
        "a array<int>, b array<int>",
    )
    got = [r.d for r in df.select(
        RF.hamming_distance_seq("a", "b", strict=True).alias("d")).collect()]
    assert sorted(got, key=str) == [1, None, None]
    bad = spark.createDataFrame([([1], [1, 2, 3])], "a array<int>, b array<int>")
    with pytest.raises(Exception, match="DifferentLengthArgs|unequal lengths"):
        bad.select(RF.hamming_distance_seq("a", "b", strict=True).alias("d")).collect()


def test_seq_null_elements_are_null(spark):
    """An array containing a null element has no element identity — the
    row is null, not a crash or a garbage score."""
    df = spark.createDataFrame(
        [([1, 2, 3], [1, 2, 3]), ([1, None, 3], [1, 2, 3]), (None, [1])],
        "a array<int>, b array<int>",
    )
    got = [r.d for r in df.select(
        RF.levenshtein_distance_seq("a", "b").alias("d")).collect()]
    assert sorted(got, key=str) == [0, None, None]


def test_jaro_winkler_nonstandard_prefix_weight_cutoff(spark):
    """The reference computes exactly for ANY prefix_weight; pruning is
    only sound in [0, 0.25], so out-of-range weights must skip pruning
    rather than null out pairs that meet the cutoff."""
    df = spark.createDataFrame([("ab", "abxxxxxx")], "a string, b string")
    exact = df.select(
        RF.jaro_winkler_similarity("a", "b", prefix_weight=-0.1).alias("s")
    ).collect()[0].s
    got = df.select(
        RF.jaro_winkler_similarity(
            "a", "b", score_cutoff=exact - 0.02, prefix_weight=-0.1
        ).alias("s")
    ).collect()[0].s
    assert got is not None and abs(got - exact) < 1e-9


def test_seq_vocab_overflow_splits_batch():
    """A batch whose combined vocabulary exceeds the utf-32 remap space
    splits into chunks instead of failing the task."""
    import numpy as np

    from rapidfuzz_spark.functions import _score_block, _seq_chunks

    n_rows, width = 300, 8000  # 2 sides x 300 x 8000 = 4.8M distinct ids
    seqs1 = [np.arange(i * width, (i + 1) * width, dtype=np.int64)
             for i in range(n_rows)]
    base = n_rows * width
    seqs2 = [np.arange(base + i * width, base + (i + 1) * width, dtype=np.int64)
             for i in range(n_rows)]
    seqs2[0] = seqs1[0]  # one identical pair
    vals = np.concatenate([
        _score_block("levenshtein", "distance", a, b)[0]
        for a, b in _seq_chunks(seqs1, seqs2)
    ])
    assert vals[0] == 0 and (vals[1:] == width).all()


def test_token_sort_ratio_order_insensitive(spark):
    """token_sort_key + ratio: word order must not matter; values match
    the scalar reference ratio over the sorted join."""
    import rapidfuzz_spark as rf
    import rapidfuzz_spark.functions as RF
    from pyspark.sql import functions as F

    rows = [
        ("a", "new york mets", "mets new york"),
        ("b", "great is wow", "wow is great!"),
        ("c", "abcd", "dcba"),
    ]
    df = spark.createDataFrame(rows, ["pid", "t1", "t2"])
    out = {
        r.pid: r.v
        for r in df.select(
            "pid",
            F.round(
                RF.ratio(RF.token_sort_key("t1"), RF.token_sort_key("t2")), 6
            ).alias("v"),
        ).collect()
    }
    assert out["a"] == 1.0
    assert out["b"] == 1.0  # punctuation normalized away
    def key(s):
        import re
        return " ".join(sorted(re.sub(r"[^a-z0-9]+", " ", s.lower()).split()))
    for pid, t1, t2 in rows:
        assert out[pid] == round(rf.fuzz.ratio(key(t1), key(t2)), 6)


# ---------------------------------------------------------------------------
# fuzz.token_set_ratio / fuzz.partial_ratio (family extensions)
# ---------------------------------------------------------------------------


def _tsr_reference(t1: str, t2: str) -> float:
    """Pure-Python replay: set algebra + the scalar indel ratio.
    Normalization mirrors \\p{L}\\p{N} (unicode-aware, like the Spark
    side and the DuckDB oracle), not ascii [a-z0-9]."""
    import rapidfuzz_spark as rf

    def norm(s):
        return set(
            "".join(c if c.isalnum() else " " for c in s.lower()).split()
        )

    a1, a2 = norm(t1), norm(t2)
    t0 = " ".join(sorted(a1 & a2))
    c1 = (t0 + " " + " ".join(sorted(a1 - a2))).strip()
    c2 = (t0 + " " + " ".join(sorted(a2 - a1))).strip()
    return max(
        rf.fuzz.ratio(t0, c1), rf.fuzz.ratio(t0, c2), rf.fuzz.ratio(c1, c2)
    )


def test_token_set_ratio_invariances(spark):
    rows = [
        ("dup", "fuzzy was a bear", "fuzzy fuzzy was a bear"),
        ("order", "new york mets", "mets york new"),
        ("superset", "new york mets", "the wonderful new york mets"),
        ("punct", "this is a test", "this -- is a TEST!"),
        ("disjoint", "abcd", "wxyz"),
        ("empty", "", "anything"),
        # non-ASCII letters are \p{L}: 'café' must stay ONE token on
        # every side (Spark, oracle, reference) — not split at the é
        ("unicode", "Café zurück", "zurück café"),
    ]
    df = spark.createDataFrame(rows, ["pid", "t1", "t2"])
    out = {
        r.pid: r.v
        for r in df.select(
            "pid", F.round(RF.token_set_ratio("t1", "t2"), 6).alias("v")
        ).collect()
    }
    # duplicates, order, supersets, punctuation, unicode case/order:
    # all score 1.0
    for k in ("dup", "order", "superset", "punct", "unicode"):
        assert out[k] == 1.0, (k, out[k])
    for pid, t1, t2 in rows:
        assert out[pid] == round(_tsr_reference(t1, t2), 6), pid


def test_token_set_ratio_null_input_is_null(spark):
    df = spark.createDataFrame(
        [(1, None, "acme corp"), (2, "acme", None), (3, "acme", "acme corp")],
        "pid int, t1 string, t2 string",
    )
    out = {
        r.pid: r.v
        for r in df.select("pid", RF.token_set_ratio("t1", "t2").alias("v")).collect()
    }
    assert out[1] is None and out[2] is None
    assert out[3] == 1.0


def test_token_set_ratio_randomized_vs_reference(spark):
    rnd = random.Random(37)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    rows = [
        (
            i,
            " ".join(rnd.choices(vocab, k=rnd.randrange(0, 6))),
            " ".join(rnd.choices(vocab, k=rnd.randrange(0, 6))),
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["pid", "t1", "t2"])
    out = {
        r.pid: r.v
        for r in df.select(
            "pid", F.round(RF.token_set_ratio("t1", "t2"), 6).alias("v")
        ).collect()
    }
    for pid, t1, t2 in rows:
        assert out[pid] == round(_tsr_reference(t1, t2), 6), (pid, t1, t2)


def _pr_reference(t1: str, t2: str) -> float:
    import rapidfuzz_spark as rf

    n1, n2 = len(t1), len(t2)
    best = 0.0
    for i in range(max(n2 - n1, 0) + 1):
        best = max(best, rf.fuzz.ratio(t1, t2[i : i + n1]))
    return best


def test_partial_ratio_hand_and_randomized(spark):
    from rapidfuzz_spark.textops import softtfidf

    rnd = random.Random(41)
    rows = [
        (0, "abcd", "xxabcdxx"),       # exact window -> 1.0
        (1, "hello", "say hello world"),
        (2, "longer than the hay", "hay"),  # s1 longer: single clamp window
        (3, "", ""),
    ]
    rows += [
        (
            10 + k,
            "".join(rnd.choices("abcde ", k=rnd.randrange(0, 8))),
            "".join(rnd.choices("abcde ", k=rnd.randrange(0, 16))),
        )
        for k in range(80)
    ]
    df = spark.createDataFrame(rows, ["id_1", "t1", "t2"]).withColumn(
        "id_2", F.col("id_1")
    )
    out = {
        r.id_1: r.partial_ratio
        for r in softtfidf.partial_ratio_pairs(df).collect()
    }
    assert out[0] == 1.0
    assert out[1] == 1.0
    for rid, t1, t2 in rows:
        assert out[rid] == round(_pr_reference(t1, t2), 6), (rid, t1, t2)


def test_partial_ratio_pairs_keeps_null_pairs(spark):
    from rapidfuzz_spark.textops import softtfidf

    df = spark.createDataFrame(
        [(1, 2, None, "acme corp"), (3, 4, "acme", None), (5, 6, None, None),
         (7, 8, "acme", "acme corp")],
        "id_1 int, id_2 int, t1 string, t2 string",
    )
    for kw in ({}, {"cap_short": 8, "cap_long": 20}):
        out = {
            (r.id_1, r.id_2): r.partial_ratio
            for r in softtfidf.partial_ratio_pairs(df, **kw).collect()
        }
        assert out == {(1, 2): None, (3, 4): None, (5, 6): None, (7, 8): 1.0}
