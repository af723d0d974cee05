"""Hypothesis property tests mirroring the reference fuzz targets
(/root/reference/fuzz/fuzz_targets/*.rs): kernel outputs vs brute-force
DPs, symmetry, bounds, batch==individual."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from rapidfuzz_spark import (
    damerau_levenshtein,
    indel,
    jaro,
    lcs_seq,
    levenshtein,
    osa,
)
from rapidfuzz_spark.kernels.damerau import damerau_distance_np, damerau_distance_py

short = st.text(alphabet="abcdAB香и", max_size=12)
longer = st.text(alphabet="abcAB", max_size=90)


def brute_levenshtein(a: str, b: str, ins=1, dele=1, sub=1) -> int:
    prev = [j * ins for j in range(len(b) + 1)]
    for i in range(1, len(a) + 1):
        cur = [i * dele] + [0] * len(b)
        for j in range(1, len(b) + 1):
            cost = 0 if a[i - 1] == b[j - 1] else sub
            cur[j] = min(prev[j - 1] + cost, prev[j] + dele, cur[j - 1] + ins)
        prev = cur
    return prev[-1]


def brute_lcs(a: str, b: str) -> int:
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            cur[j] = prev[j - 1] + 1 if a[i - 1] == b[j - 1] else max(prev[j], cur[j - 1])
        prev = cur
    return prev[-1]


def brute_osa(a: str, b: str) -> int:
    d = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(len(a) + 1):
        d[i][0] = i
    for j in range(len(b) + 1):
        d[0][j] = j
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost)
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[-1][-1]


@given(short, short)
@settings(max_examples=300, deadline=None)
def test_levenshtein_vs_brute(a, b):
    assert levenshtein.distance(a, b) == brute_levenshtein(a, b)


@given(longer, longer)
@settings(max_examples=150, deadline=None)
def test_levenshtein_long_vs_brute(a, b):
    assert levenshtein.distance(a, b) == brute_levenshtein(a, b)


@given(short, short, st.integers(1, 3), st.integers(1, 3), st.integers(1, 5))
@settings(max_examples=200, deadline=None)
def test_weighted_levenshtein_vs_brute(a, b, ins, dele, sub):
    # symmetric weights flip with argument order; compare directly
    got = levenshtein.distance(a, b, weights=(ins, dele, sub))
    assert got == brute_levenshtein(a, b, ins, dele, sub)


@given(short, short)
@settings(max_examples=300, deadline=None)
def test_lcs_and_indel_vs_brute(a, b):
    lcs = brute_lcs(a, b)
    assert lcs_seq.similarity(a, b) == lcs
    assert indel.distance(a, b) == len(a) + len(b) - 2 * lcs


@given(longer, longer)
@settings(max_examples=100, deadline=None)
def test_lcs_long_vs_brute(a, b):
    assert lcs_seq.similarity(a, b) == brute_lcs(a, b)


@given(short, short)
@settings(max_examples=300, deadline=None)
def test_osa_vs_brute(a, b):
    assert osa.distance(a, b) == brute_osa(a, b)


@given(longer, longer)
@settings(max_examples=100, deadline=None)
def test_osa_long_vs_brute(a, b):
    assert osa.distance(a, b) == brute_osa(a, b)


@given(short, short)
@settings(max_examples=300, deadline=None)
def test_damerau_np_vs_py(a, b):
    assert damerau_distance_np(a, b) == damerau_distance_py(a, b)


@given(longer, longer)
@settings(max_examples=60, deadline=None)
def test_damerau_np_vs_py_long(a, b):
    assert damerau_distance_np(a, b) == damerau_distance_py(a, b)


@given(short, short)
@settings(max_examples=200, deadline=None)
def test_damerau_le_osa_le_lev(a, b):
    dl = damerau_levenshtein.distance(a, b)
    o = osa.distance(a, b)
    lev = levenshtein.distance(a, b)
    assert dl <= o <= lev
    assert abs(len(a) - len(b)) <= lev <= max(len(a), len(b))


@given(short, short)
@settings(max_examples=200, deadline=None)
def test_jaro_bounds_and_symmetry(a, b):
    s = jaro.similarity(a, b)
    assert 0.0 <= s <= 1.0
    assert s == jaro.similarity(b, a)


@given(short, short, short)
@settings(max_examples=150, deadline=None)
def test_levenshtein_triangle(a, b, c):
    assert levenshtein.distance(a, c) <= levenshtein.distance(a, b) + levenshtein.distance(b, c)


# ---- Column functions: NULL, empty and non-ASCII inputs -------------------

def _column_fns():
    """(name, metric, variant, is_seq) for every exported metric Column
    function, parsed from the module's public names."""
    import rapidfuzz_spark.functions as RF
    from rapidfuzz_spark import api

    metrics = sorted(api.ALL_METRICS, key=len, reverse=True)
    variants = ("distance", "similarity", "normalized_distance", "normalized_similarity")
    out = []
    for name in dir(RF):
        for m in metrics:
            rest = name[len(m) + 1 :] if name.startswith(m + "_") else ""
            v = rest.removesuffix("_seq")
            if v in variants:
                out.append((name, m, v, v != rest))
                break
    return out


_astral = st.text(alphabet="ab😀𝔘香и", max_size=8)
_elems = st.lists(st.integers(-2, 2), max_size=6)


@given(
    st.lists(st.tuples(st.none() | _astral, st.none() | _astral), max_size=20),
    st.lists(
        st.tuples(
            st.none() | _elems | st.lists(st.none() | st.integers(-2, 2), max_size=4),
            st.none() | _elems,
        ),
        max_size=20,
    ),
)
@settings(max_examples=4, deadline=None)
def test_column_functions_null_empty_non_ascii(spark, pairs, seq_pairs):
    """NULL, empty and astral-plane inputs behave the same way in every
    Column function: NULL in gives NULL out, everything else matches the
    scalar API (on the element lists for ``_seq``). One Spark job per
    batch of pairs covers all functions."""
    import pytest

    import rapidfuzz_spark.functions as RF
    from rapidfuzz_spark import api

    fns = _column_fns()
    assert sum(not s for *_, s in fns) == 40 and sum(s for *_, s in fns) == 7
    pairs = pairs + [(None, "a"), ("a", None), ("", ""), ("", "😀𝔘"), ("😀", "𝔘")]
    seq_pairs = seq_pairs + [([], []), (None, [1]), ([1, None], [1]), ([], [1, 2])]
    for rows, seq, schema in (
        (pairs, False, "s1 string, s2 string"),
        (seq_pairs, True, "s1 array<bigint>, s2 array<bigint>"),
    ):
        fs = [f for f in fns if f[3] == seq]
        params = [{"pad": True} if m == "hamming" else {} for _, m, _, _ in fs]
        got = (
            spark.createDataFrame(rows, schema)
            .select(
                "s1",
                "s2",
                *[getattr(RF, n)("s1", "s2", **p).alias(n) for (n, *_), p in zip(fs, params)],
            )
            .collect()
        )
        for r in got:
            null = r.s1 is None or r.s2 is None or seq and (None in r.s1 or None in r.s2)
            for (name, m, v, _), p in zip(fs, params):
                if null:
                    assert r[name] is None, (name, r.s1, r.s2)
                else:
                    exp = getattr(getattr(api, m), v)(r.s1, r.s2, **p)
                    assert r[name] == pytest.approx(exp, abs=1e-9), (name, r.s1, r.s2)
