"""Metric-kernel oracle tests.

Every expected value is a numeric oracle from the reference test suite
(/root/reference/src/distance/*.rs, src/fuzz.rs — see FIXTURES.md F1 and
SURVEY.md §5). No Spark required: these exercise the pure kernels.
"""

from __future__ import annotations

import gzip
import math
import os

import pytest

from rapidfuzz_spark import (
    damerau_levenshtein,
    fuzz,
    hamming,
    indel,
    jaro,
    jaro_winkler,
    lcs_seq,
    levenshtein,
    osa,
    postfix,
    prefix,
)
from rapidfuzz_spark.kernels.hamming import DifferentLengthArgs

HERE = os.path.dirname(__file__)


def sym(fn, s1, s2, **kw):
    """Reference metamorphic helper (levenshtein.rs:1847-1890): symmetry +
    batch == individual."""
    r1 = fn(s1, s2, **kw)
    r2 = fn(s2, s1, **kw)
    assert r1 == r2 or (r1 is not None and r2 is not None and math.isclose(r1, r2))
    return r1


# ---------------------------------------------------------------- levenshtein

BANDED_CASES = [
    # (s1, s2, expected) — levenshtein.rs test_banded
    (
        "kkkkbbbbfkkkkkkibfkkkafakkfekgkkkkkkkkkkbdbbddddddddddafkkkekkkhkk",
        "khddddddddkkkkdgkdikkccccckcckkkekkkkdddddddddddafkkhckkkkkdckkkcc",
        36,
    ),
    (
        "ccddcddddddddddddddddddddddddddddddddddddddddddddddddddddaaaaaaaaaaa",
        "aaaaaaaaaaaaaadddddddddbddddddddddddddddddddddddddddddddddbddddddddd",
        26,
    ),
    (
        "accccccccccaaaaaaaccccccccccccccccccccccccccccccacccccccccccccccccccccccccccccc"
        "ccccccccccccccccccccaaaaaaaaaaaaacccccccccccccccccccccc",
        "ccccccccccccccccccccccccccccccccccccccccccccccccccccccccccccccccccccccccccccccc"
        "ccccccccccccccccccccccccccccccccccccbcccb",
        24,
    ),
    (
        "llccacaaaaaaaaaccccccccccccccccddffaccccaccecccggggclallhcccccljif",
        "bddcbllllllbcccccccccccccccccddffccccccccebcccggggclbllhcccccljifbddcccccc",
        27,
    ),
]


class TestLevenshtein:
    def test_empty(self):
        assert sym(levenshtein.distance, "", "") == 0
        assert sym(levenshtein.distance, "aaaa", "") == 4

    def test_simple(self):
        assert sym(levenshtein.distance, "aaaa", "aaaa") == 0
        assert sym(levenshtein.distance, "aaaa", "aaa") == 1
        assert sym(levenshtein.distance, "aaaa", "aaab") == 1
        assert sym(levenshtein.distance, "abaa", "baaa") == 2
        assert sym(levenshtein.distance, "aaaa", "bbbb") == 4
        assert sym(levenshtein.distance, "kitten", "sitting") == 3

    @pytest.mark.parametrize(
        "s1,s2,exp",
        [
            ("aaaa", "aaaa", 1.0),
            ("aaaa", "aaa", 0.75),
            ("aaaa", "aaab", 0.75),
            ("abaa", "baaa", 0.5),
            ("aaaa", "bbbb", 0.0),
        ],
    )
    def test_norm_sim(self, s1, s2, exp):
        assert sym(levenshtein.normalized_similarity, s1, s2) == pytest.approx(exp, abs=1e-4)

    def test_weighted(self):
        w = (1, 1, 2)
        assert sym(levenshtein.distance, "aaaa", "aaaa", weights=w) == 0
        assert sym(levenshtein.distance, "aaaa", "aaa", weights=w) == 1
        assert sym(levenshtein.distance, "abaa", "baaa", weights=w) == 2
        assert sym(levenshtein.distance, "aaaa", "aaab", weights=w) == 2
        assert sym(levenshtein.distance, "aaaa", "bbbb", weights=w) == 8
        assert sym(levenshtein.distance, "kitten", "sitting", weights=w) == 5
        for (s1, s2, exp) in [
            (("aaaa", "aaaa"), None, 1.0),
            (("aaaa", "aaa"), None, 0.8571),
            (("abaa", "baaa"), None, 0.75),
            (("aaaa", "aaab"), None, 0.75),
            (("aaaa", "bbbb"), None, 0.0),
        ]:
            got = sym(levenshtein.normalized_similarity, s1[0], s1[1], weights=w)
            assert got == pytest.approx(exp, abs=1e-4)

    def test_cutoffs_south_north(self):
        a, b = "South Korea", "North Korea"
        assert sym(levenshtein.distance, a, b) == 2
        for c in (4, 3, 2):
            assert sym(levenshtein.distance, a, b, score_cutoff=c) == 2
        for c in (1, 0):
            assert sym(levenshtein.distance, a, b, score_cutoff=c) is None
        w = (1, 1, 2)
        assert sym(levenshtein.distance, a, b, weights=w) == 4
        assert sym(levenshtein.distance, a, b, weights=w, score_cutoff=4) == 4
        for c in (3, 2, 1):
            assert sym(levenshtein.distance, a, b, weights=w, score_cutoff=c) is None

    def test_cutoffs_aabc(self):
        a, b = "aabc", "cccd"
        assert sym(levenshtein.distance, a, b) == 4
        assert sym(levenshtein.distance, a, b, score_cutoff=4) == 4
        for c in (3, 2, 1, 0):
            assert sym(levenshtein.distance, a, b, score_cutoff=c) is None
        w = (1, 1, 2)
        assert sym(levenshtein.distance, a, b, weights=w) == 6
        assert sym(levenshtein.distance, a, b, weights=w, score_cutoff=6) == 6
        for c in (5, 4, 3, 2, 1, 0):
            assert sym(levenshtein.distance, a, b, weights=w, score_cutoff=c) is None

    @pytest.mark.parametrize("s1,s2,exp", BANDED_CASES)
    def test_banded(self, s1, s2, exp):
        assert sym(levenshtein.distance, s1, s2) == exp

    def test_blockwise(self):
        assert sym(levenshtein.distance, "a" * 128, "b" * 128) == 128

    def test_unicode(self):
        assert sym(levenshtein.distance, "Иванко", "Петрунко") == 5

    def test_batch_comparator(self):
        bc = levenshtein.BatchComparator("South Korea")
        assert bc.distance("North Korea") == 2
        assert bc.distance("North Korea", score_cutoff=1) is None
        assert bc.similarity("North Korea") == 9

    def test_ocr_large_band(self):
        with gzip.open(os.path.join(HERE, "data", "ocr_example1.bin.gz")) as f:
            s1 = list(f.read())
        with gzip.open(os.path.join(HERE, "data", "ocr_example2.bin.gz")) as f:
            s2 = list(f.read())
        assert (len(s1), len(s2)) == (106514, 107244)
        assert levenshtein.distance(s1, s2) == 5278
        assert levenshtein.distance(s1, s2, score_cutoff=2500) is None
        assert levenshtein.distance(s1, s2, score_hint=0) == 5278


# ---------------------------------------------------------------- indel / lcs


class TestIndel:
    def test_basic(self):
        assert sym(indel.distance, "aaaa", "aaaa") == 0
        assert sym(indel.similarity, "aaaa", "aaaa") == 8
        assert sym(indel.normalized_distance, "aaaa", "aaaa") == 0.0
        assert sym(indel.distance, "aaaa", "bbbb") == 8
        assert sym(indel.similarity, "aaaa", "bbbb") == 0
        assert sym(indel.normalized_similarity, "aaaa", "bbbb") == 0.0

    def test_south_north(self):
        a, b = "South Korea", "North Korea"
        assert sym(indel.distance, a, b) == 4
        assert sym(indel.distance, a, b, score_cutoff=4) == 4
        assert sym(indel.distance, a, b, score_cutoff=3) is None

    def test_lewenstein(self):
        assert sym(indel.distance, "lewenstein", "levenshtein") == 3
        assert sym(indel.distance, "lewenstein", "levenshtein", score_cutoff=2) is None

    def test_norm_001_220(self):
        assert sym(indel.normalized_similarity, "001", "220") == pytest.approx(1 / 3, abs=1e-4)

    def test_banded(self):
        # exact strings extracted from indel.rs test_banded_implementation
        import json

        fx = json.load(open(os.path.join(HERE, "data", "indel_banded.json")))
        s1, s2 = fx["banded_508"]
        assert sym(indel.distance, s1, s2) == 508
        assert sym(indel.distance, s1, s2, score_cutoff=508) == 508
        assert sym(indel.distance, s1, s2, score_cutoff=507) is None
        t1, t2 = fx["banded_231"]
        assert sym(indel.distance, t1, t2) == 231

    def test_unicode(self):
        assert sym(indel.distance, "Иванко", "Петрунко") == 8


class TestLcsSeq:
    def test_basic(self):
        assert sym(lcs_seq.distance, "a", "a") == 0
        assert sym(lcs_seq.distance, "aaaa", "aaaa") == 0
        assert sym(lcs_seq.similarity, "aaaa", "aaaa") == 4
        assert sym(lcs_seq.distance, "aaaa", "bbbb") == 4
        assert sym(lcs_seq.similarity, "aaaa", "bbbb") == 0

    def test_south_north(self):
        a, b = "South Korea", "North Korea"
        assert sym(lcs_seq.similarity, a, b) == 9
        assert sym(lcs_seq.similarity, a, b, score_cutoff=10) is None
        assert sym(lcs_seq.distance, a, b) == 2

    def test_misc(self):
        assert sym(lcs_seq.similarity, "001", "220") == 1
        assert sym(lcs_seq.distance, "ab", "ac") == 1
        assert sym(lcs_seq.distance, "Иванко", "Петрунко") == 5


# ------------------------------------------------------------------- damerau


class TestDamerau:
    def test_simple(self):
        assert sym(damerau_levenshtein.distance, "", "") == 0
        assert sym(damerau_levenshtein.distance, "aaaa", "") == 4
        assert sym(damerau_levenshtein.distance, "aaaa", "aaaa") == 0
        assert sym(damerau_levenshtein.distance, "aaaa", "aaa") == 1
        assert sym(damerau_levenshtein.distance, "aaaa", "aaab") == 1
        assert sym(damerau_levenshtein.distance, "abaa", "baaa") == 1
        assert sym(damerau_levenshtein.distance, "aaaa", "bbbb") == 4
        assert sym(damerau_levenshtein.distance, "CA", "ABC") == 2

    @pytest.mark.parametrize(
        "s1,s2,exp",
        [
            ("aaaa", "aaaa", 1.0),
            ("aaaa", "aaa", 0.75),
            ("aaaa", "aaab", 0.75),
            ("abaa", "baaa", 0.75),
            ("aaaa", "bbbb", 0.0),
        ],
    )
    def test_norm_sim(self, s1, s2, exp):
        got = sym(damerau_levenshtein.normalized_similarity, s1, s2)
        assert got == pytest.approx(exp, abs=1e-4)

    def test_unicode(self):
        assert sym(damerau_levenshtein.distance, "Иванко", "Петрунко") == 5
        assert sym(damerau_levenshtein.distance, "ИвaнкoIvan", "Петрунко") == 10


# ----------------------------------------------------------------------- osa


class TestOsa:
    def test_simple(self):
        assert sym(osa.distance, "", "") == 0
        assert sym(osa.distance, "aaaa", "") == 4
        assert sym(osa.distance, "aaaa", "", score_cutoff=1) is None
        assert sym(osa.distance, "CA", "ABC") == 3
        assert sym(osa.distance, "CA", "AC") == 1

    def test_embedded_swap_131(self):
        filler = "a" * 64
        s1 = "a" + filler + "CA" + filler + "a"
        s2 = "b" + filler + "AC" + filler + "b"
        assert sym(osa.distance, s1, s2) == 3

    def test_unicode(self):
        assert sym(osa.distance, "Иванко", "Петрунко") == 5


# ---------------------------------------------------------------------- jaro


class TestJaro:
    def test_hash_collision_carefree(self):
        assert sym(jaro.similarity, "james", "robert") == pytest.approx(0.455556, abs=1e-4)

    def test_edges(self):
        assert sym(jaro.similarity, "", "") == 1.0
        assert sym(jaro.similarity, "a", "") == 0.0
        assert sym(jaro.similarity, "a", "a") == 1.0
        assert sym(jaro.similarity, "abc", "abc") == 1.0

    def test_unicode(self):
        assert sym(jaro.distance, "Иванко", "Петрунко") == pytest.approx(0.375, abs=1e-4)


class TestJaroWinkler:
    def test_prefix_case(self):
        got = sym(jaro_winkler.similarity, "aaaaaaaa", "aabaaab")
        assert got == pytest.approx(0.82381, abs=1e-4)

    def test_no_boost_below_07(self):
        # sim <= 0.7 must not get the prefix boost
        j = jaro.similarity("james", "robert")
        assert jaro_winkler.similarity("james", "robert") == pytest.approx(j, abs=1e-9)


# ------------------------------------------------------------------- hamming


class TestHamming:
    def test_basic(self):
        assert sym(hamming.distance, "hamming", "humming") == 1
        assert sym(hamming.distance, "hamming", "hammers") == 3
        assert sym(hamming.distance, [1, 2, 4], [1, 2, 3]) == 1
        assert sym(hamming.distance, "hamming", "h香mmüng") == 2
        assert sym(hamming.distance, "Friedrich Nietzs", "Jean-Paul Sartre") == 14

    def test_pad(self):
        with pytest.raises(DifferentLengthArgs):
            hamming.distance("ham", "hamming")
        assert hamming.distance("ham", "hamming", pad=True) == 4
        assert hamming.similarity("ham", "hamming", pad=True) == 3

    def test_cutoff_applied_after(self):
        assert hamming.distance("hamming", "hammers", score_cutoff=3) == 3
        assert hamming.distance("hamming", "hammers", score_cutoff=2) is None


# ------------------------------------------------------------ prefix/postfix


class TestPrefixPostfix:
    def test_prefix(self):
        assert sym(prefix.similarity, "prefix", "preference") == 4
        assert sym(prefix.distance, "prefix", "preference") == 6
        assert sym(prefix.normalized_similarity, "aaaa", "aabb") == 0.5

    def test_postfix(self):
        assert sym(postfix.similarity, "testing", "running") == 3
        assert sym(postfix.distance, "testing", "running") == 4
        assert sym(postfix.normalized_similarity, "aaaa", "bbaa") == 0.5


# ---------------------------------------------------------------- fuzz.ratio


class TestFuzzRatio:
    def test_flagship(self):
        assert fuzz.ratio("this is a test", "this is a test!") == pytest.approx(
            0.96551724, abs=1e-4
        )
        assert fuzz.ratio("new york mets", "the wonderful new york mets") == pytest.approx(
            0.65, abs=1e-4
        )

    def test_empty(self):
        assert fuzz.ratio("", "") == 1.0
        assert fuzz.ratio("test", "") == 0.0
        assert fuzz.ratio("", "test") == 0.0

    @pytest.mark.parametrize("a,b", [("South Korea", "North Korea"), ("bc", "bca")])
    def test_cutoff_boundary(self, a, b):
        # fuzz.rs issue206/210: cutoff epsilon above -> None, below -> score
        score = fuzz.ratio(a, b)
        assert fuzz.ratio(a, b, score_cutoff=score + 0.0001) is None
        assert fuzz.ratio(a, b, score_cutoff=score - 0.0001) == pytest.approx(score)

    def test_corner_equal(self):
        # fuzz.rs test_equal incl. the silly corner cases S8='{', S9='{a'
        for s in ("new york mets", "test", "{", "{a"):
            assert fuzz.ratio(s, s) == pytest.approx(1.0, abs=1e-4)


class TestRatioBatchComparator:
    """fuzz::RatioBatchComparator (fuzz.rs:98-150 + its doc example):
    one×many ratio over cached indel pattern state."""

    def test_doc_example(self):
        bc = fuzz.RatioBatchComparator("this is a test")
        assert bc.similarity("this is a test!") == pytest.approx(0.9655, abs=1e-4)

    def test_agrees_with_ratio(self):
        pat = "new york mets"
        bc = fuzz.RatioBatchComparator(pat)
        for s2 in ("the wonderful new york mets", "", "new york mets", "{a",
                   "atlanta braves vs new york mets", "x" * 200):
            assert bc.similarity(s2) == pytest.approx(fuzz.ratio(pat, s2), abs=1e-9)

    @pytest.mark.parametrize("a,b", [("South Korea", "North Korea"), ("bc", "bca")])
    def test_cutoff_boundary(self, a, b):
        # issue206/210 boundaries through the comparator surface
        bc = fuzz.RatioBatchComparator(a)
        score = bc.similarity(b)
        assert bc.similarity(b, score_cutoff=score + 0.0001) is None
        assert bc.similarity(b, score_cutoff=score - 0.0001) == pytest.approx(score)


# ----------------------------------------------------------- duality layer


class TestDuality:
    """similarity = maximum - distance; norm_sim = 1 - norm_dist
    (details/distance.rs:154-275)."""

    @pytest.mark.parametrize(
        "mod,maximum",
        [
            (levenshtein, max),
            (osa, max),
            (damerau_levenshtein, max),
            (lcs_seq, max),
        ],
    )
    def test_integral_duality(self, mod, maximum):
        pairs = [("South Korea", "North Korea"), ("kitten", "sitting"), ("", ""), ("ab", "")]
        for s1, s2 in pairs:
            m = maximum(len(s1), len(s2))
            d = mod.distance(s1, s2)
            assert mod.similarity(s1, s2) == m - d
            nd = mod.normalized_distance(s1, s2)
            assert nd == (d / m if m else 0.0)
            assert mod.normalized_similarity(s1, s2) == pytest.approx(1.0 - nd)

    def test_maximum_zero_guard(self):
        assert levenshtein.normalized_distance("", "") == 0.0
        assert levenshtein.normalized_similarity("", "") == 1.0


# ---------------------------------------------------------------------------
# vectorized multi-word (blockwise) batch kernels
# ---------------------------------------------------------------------------


def _mixed_word_chunk(seed=31):
    """Pairs that share one blockwise chunk while their patterns span
    W = 1..9 words (the wavefront kernels give every pattern word its own
    lane). Distinct first and last characters keep the affix strip off, so
    these are the core lengths:

    - per W, a pair whose pattern fills its last word, so every carry out
      of its last lane is live, followed by a one-word pair with the same
      end step (text length + words - 1), which the stable sort keeps
      adjacent: the first pair's last lane sits right before the second's
      lane 0;
    - a 5-char text that ends while the longer ones run on;
    - Cyrillic/CJK pairs."""
    import random

    rng = random.Random(seed)

    def s(al, n, ends="<>"):
        return ends[0] + "".join(rng.choice(al) for _ in range(n - 2)) + ends[1]

    out = []
    for w in range(1, 10):
        lt = 64 * w + rng.randrange(0, 90)
        out.append((s("ab", 64 * w, "<b"), s("ab", lt, "[a")))
        out.append((s("ab", rng.randint(20, 64), "(b"), s("ab", lt + w - 1, "{a")))
    out.append((s("ab", 4), s("ab", 5, "[]")))
    for w in (2, 3, 4):
        lp = 64 * w - rng.randrange(0, 20)
        lt = lp + rng.randrange(0, 40)
        out.append((s("абвгд日本語", lp), s("абвгд日本語 ", lt, "[]")))
    return out


class TestBlockwiseBatchKernels:
    """The >64-char vectorized paths must agree with the arbitrary-
    precision Python-int kernels (which are locked to the reference's
    oracle vectors above)."""

    def _cases(self):
        import random

        random.seed(11)
        al = "abcdef "
        out = []
        for _ in range(300):
            la = random.choice([3, 63, 64, 65, 129, 250, 400])
            lb = random.choice([3, 64, 65, 130, 260, 410])
            a = "".join(random.choice(al) for _ in range(la))
            b = "".join(random.choice(al) for _ in range(lb))
            out.append((a, b))
        # word-boundary transpositions and equal strings
        out += [("a" * 63 + "xy", "a" * 63 + "yx"), ("b" * 200, "b" * 200)]
        return out + _mixed_word_chunk()

    def test_levenshtein_block_matches_python(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B
        from rapidfuzz_spark.kernels.common import pm_vector
        from rapidfuzz_spark.kernels.levenshtein import myers_distance

        cases = self._cases()
        a = np.array([c[0] for c in cases], dtype=object)
        b = np.array([c[1] for c in cases], dtype=object)
        got = B.levenshtein_batch(a, b)
        for i, (x, y) in enumerate(cases):
            if x == y:
                assert got[i] == 0
                continue
            p, t = (x, y) if len(x) <= len(y) else (y, x)
            assert got[i] == myers_distance(p, t, pm_vector(p))

    def test_lcs_block_matches_python(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B
        from rapidfuzz_spark.kernels.common import pm_vector
        from rapidfuzz_spark.kernels.lcs_indel import lcs_length

        cases = self._cases()
        a = np.array([c[0] for c in cases], dtype=object)
        b = np.array([c[1] for c in cases], dtype=object)
        got = B.lcs_similarity_batch(a, b)
        for i, (x, y) in enumerate(cases):
            p, t = (x, y) if len(x) <= len(y) else (y, x)
            assert got[i] == (lcs_length(p, t, pm_vector(p)) if p else 0)

    def test_osa_block_boundary_transposition(self):
        from rapidfuzz_spark.kernels import batch as B

        assert B.osa_batch_block(["a" * 63 + "xy"], ["a" * 63 + "yx"])[0] == 1

    def test_osa_block_matches_python(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B
        from rapidfuzz_spark.kernels import osa

        cases = self._cases()
        a = np.array([c[0] for c in cases], dtype=object)
        b = np.array([c[1] for c in cases], dtype=object)
        got = B.osa_batch(a, b)
        for i, (x, y) in enumerate(cases):
            assert got[i] == osa._dist(x, y)

    def test_long_string_routing_contract(self):
        """Routing contract at/above _BLOCK_MAX_WORDS (the measured
        blockwise/big-int crossover, BENCH.md §12): results must be
        IDENTICAL whichever side of the cap a pair lands on — exercised
        here with lengths straddling the cap (W-1, W, W+1, ~2W words)
        for every metric that routes through it, plus the lev cutoff
        and hint variants on the long side."""
        import random

        import numpy as np

        from rapidfuzz_spark.kernels import batch as B
        from rapidfuzz_spark.kernels import osa as _osa
        from rapidfuzz_spark.kernels.common import pm_vector
        from rapidfuzz_spark.kernels.jaro import jaro_similarity
        from rapidfuzz_spark.kernels.lcs_indel import lcs_length
        from rapidfuzz_spark.kernels.levenshtein import myers_distance

        random.seed(23)
        al = "abcdefghij "
        W = B._BLOCK_MAX_WORDS
        cases = []
        for words in (W - 1, W, W + 1, 2 * W):
            for _ in range(6):
                la = words * 64 - random.randrange(0, 30)
                a = "".join(random.choice(al) for _ in range(la))
                t = list(a)
                for _ in range(max(1, la // 15)):
                    t[random.randrange(la)] = random.choice(al)
                cases.append((a, "".join(t)))
        # the one-word seam, as core lengths (distinct end chars, so no
        # affix strip): pattern <= 64 with text > 64, both at 64, both
        # at 65, 64 vs 65; either side first
        for lp, lt in ((60, 100), (64, 100), (64, 64), (65, 65), (64, 65)):
            for _ in range(3):
                a = "<" + "".join(random.choice("ab") for _ in range(lp - 2)) + ">"
                b = "[" + "".join(random.choice("ab") for _ in range(lt - 2)) + "]"
                cases += [(a, b), (b, a)]
        cases += _mixed_word_chunk()
        aa = np.array([c[0] for c in cases], dtype=object)
        bb = np.array([c[1] for c in cases], dtype=object)
        lev = B.levenshtein_batch(aa, bb)
        lcs = B.lcs_similarity_batch(aa, bb)
        osa_d = B.osa_batch(aa, bb)
        jar = B.jaro_batch(aa, bb)
        for i, (x, y) in enumerate(cases):
            p, t = (x, y) if len(x) <= len(y) else (y, x)
            pm = pm_vector(p)
            assert lev[i] == myers_distance(p, t, pm)
            assert lcs[i] == lcs_length(p, t, pm)
            assert osa_d[i] == _osa.osa_distance_kernel(p, t, pm)
            assert jar[i] == pytest.approx(jaro_similarity(p, t, pm))
        # cutoff + hint variants stay exact at and above the cap
        ks = lev + 2
        with_k = B.levenshtein_batch(aa, bb, k=ks)
        assert (with_k == lev).all()
        with_hint = B.levenshtein_batch(aa, bb, k=ks, hint=np.maximum(lev - 1, 1))
        assert (with_hint == lev).all()

    def test_damerau_vectorized_matches_python(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B
        from rapidfuzz_spark.kernels import damerau

        cases = self._cases()[:80]
        a = np.array([c[0] for c in cases], dtype=object)
        b = np.array([c[1] for c in cases], dtype=object)
        got = B.damerau_batch(a, b)
        for i, (x, y) in enumerate(cases):
            sx, sy = damerau.remove_common_affix(x, y)
            exp = damerau.damerau_distance_py(sx, sy) if (sx or sy) else 0
            assert got[i] == exp

    def test_jaro_batch_matches_python(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B
        from rapidfuzz_spark.kernels import jaro

        cases = self._cases()
        a = np.array([c[0] for c in cases], dtype=object)
        b = np.array([c[1] for c in cases], dtype=object)
        got = B.jaro_batch(a, b)
        for i, (x, y) in enumerate(cases):
            assert got[i] == pytest.approx(jaro.jaro_similarity(x, y), abs=1e-12)

    def test_jaro_winkler_batch_matches_python(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B
        from rapidfuzz_spark.kernels import jaro

        cases = self._cases()
        # add high-similarity shared-prefix cases so the Winkler boost
        # branch (jaro > 0.7 + common prefix) is actually exercised
        cases += [
            ("martha" * 20, "marhta" * 20),
            ("a" * 100 + "bcd", "a" * 100 + "bdc"),
            ("prefixed common words here", "prefixed common words hree"),
        ]
        a = np.array([c[0] for c in cases], dtype=object)
        b = np.array([c[1] for c in cases], dtype=object)
        got = B.jaro_winkler_batch(a, b)
        for i, (x, y) in enumerate(cases):
            exp = jaro.jaro_winkler_similarity(x, y)
            assert got[i] == pytest.approx(exp, abs=1e-12)

    def test_hamming_batch_matches_python(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B
        from rapidfuzz_spark.kernels import hamming

        cases = self._cases()
        a = np.array([c[0] for c in cases], dtype=object)
        b = np.array([c[1] for c in cases], dtype=object)
        got_pad = B.hamming_batch(a, b, pad=True)
        got_strict = B.hamming_batch(a, b, pad=False)
        for i, (x, y) in enumerate(cases):
            assert got_pad[i] == hamming.hamming_distance_raw(x, y, pad=True)
            if len(x) == len(y):
                assert got_strict[i] == hamming.hamming_distance_raw(x, y)
            else:
                assert got_strict[i] == -1

    def test_prefix_postfix_batch_match_python(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B

        def pfx(x, y):
            n = 0
            for cx, cy in zip(x, y):
                if cx != cy:
                    break
                n += 1
            return n

        cases = self._cases() + [("abc" * 40, "abc" * 40 + "d")]
        a = np.array([c[0] for c in cases], dtype=object)
        b = np.array([c[1] for c in cases], dtype=object)
        gp = B.prefix_batch(a, b)
        gs = B.postfix_batch(a, b)
        for i, (x, y) in enumerate(cases):
            assert gp[i] == pfx(x, y)
            assert gs[i] == pfx(x[::-1], y[::-1])

    def test_chunked_word_path_parity_above_block_chunk(self):
        """All-short batches larger than _BLOCK_CHUNK run the W=1
        blockwise kernels in cache-sized slices; the chunk seams must not
        change results (covers the >2048-pair path the 300-case suite
        misses)."""
        import random

        import numpy as np

        from rapidfuzz_spark.kernels import batch as B
        from rapidfuzz_spark.kernels.common import pm_vector
        from rapidfuzz_spark.kernels.lcs_indel import lcs_length
        from rapidfuzz_spark.kernels.levenshtein import myers_distance

        random.seed(3)
        al = "abcdefgh "
        n = B._BLOCK_CHUNK * 2 + 37  # spans two full chunks + a remainder
        cases = [
            (
                "".join(random.choice(al) for _ in range(random.randint(1, 60))),
                "".join(random.choice(al) for _ in range(random.randint(1, 60))),
            )
            for _ in range(n)
        ]
        a = np.array([c[0] for c in cases], dtype=object)
        b = np.array([c[1] for c in cases], dtype=object)
        lev = B.levenshtein_batch(a, b)
        lcs = B.lcs_similarity_batch(a, b)
        idx = list(range(0, n, 97)) + [
            B._BLOCK_CHUNK - 1, B._BLOCK_CHUNK, B._BLOCK_CHUNK + 1, n - 1
        ]
        for i in idx:
            x, y = cases[i]
            p, t = (x, y) if len(x) <= len(y) else (y, x)
            assert lev[i] == myers_distance(p, t, pm_vector(p))
            assert lcs[i] == lcs_length(p, t, pm_vector(p))

    def test_damerau_no_int16_overflow_on_long_dissimilar(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B

        a = np.array(["a" * 8200], dtype=object)
        b = np.array(["b" * 8200], dtype=object)
        assert B.damerau_batch(a, b)[0] == 8200

    def _unicode_cases(self):
        import random

        random.seed(7)
        al = "абвгдежзик日本語中文한국어🙂🚀abcdef "
        out = []
        for _ in range(150):
            la = random.choice([0, 3, 20, 63, 64, 65, 120, 300])
            lb = random.choice([0, 4, 21, 64, 66, 130, 310])
            out.append(
                (
                    "".join(random.choice(al) for _ in range(la)),
                    "".join(random.choice(al) for _ in range(lb)),
                )
            )
        return out

    def test_unicode_vectorized_paths_match_python(self):
        """CJK/Cyrillic/emoji batches must take the vectorized kernels
        (uint32 dense alphabet) and agree with the Python-int kernels —
        reference Unicode semantics (levenshtein.rs:2163-2169)."""
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B
        from rapidfuzz_spark.kernels import jaro, lcs_indel, osa
        from rapidfuzz_spark.kernels.common import pm_vector
        from rapidfuzz_spark.kernels.levenshtein import myers_distance

        cases = self._unicode_cases()
        a = np.array([c[0] for c in cases], dtype=object)
        b = np.array([c[1] for c in cases], dtype=object)
        lev = B.levenshtein_batch(a, b)
        lcs = B.lcs_similarity_batch(a, b)
        osad = B.osa_batch(a, b)
        jw = B.jaro_winkler_batch(a, b)
        for i, (x, y) in enumerate(cases):
            p, t = (x, y) if len(x) <= len(y) else (y, x)
            if x != y:
                assert lev[i] == myers_distance(p, t, pm_vector(p))
            assert lcs[i] == (lcs_indel.lcs_length(p, t, pm_vector(p)) if p else 0)
            assert osad[i] == osa._dist(x, y)
            assert jw[i] == pytest.approx(
                jaro.jaro_winkler_similarity(x, y), abs=1e-12
            )

    def test_banded_block_matches_exact(self):
        """Ukkonen-banded blockwise Myers must equal the exact kernel for
        all pairs at/below cutoff and never report <= cutoff for a pair
        above it (reference levenshtein.rs:769-1019 band semantics)."""
        import random

        import numpy as np

        from rapidfuzz_spark.kernels import batch as B

        random.seed(5)
        for W in (2, 3, 5):
            pats, texts, ks = [], [], []
            for _ in range(200):
                lp = random.randint(64 * (W - 1) + 1, 64 * W)
                lt = random.randint(lp, lp + random.randint(0, 150))
                al = random.choice(["ab", "abcdef月日 "])
                pats.append("".join(random.choice(al) for _ in range(lp)))
                texts.append("".join(random.choice(al) for _ in range(lt)))
                ks.append(random.choice([0, 2, 7, 25, 80, 200]))
            ks = np.asarray(ks, dtype=np.int64)
            exact = B.myers_batch_block(pats, texts)
            banded = B.myers_batch_block_banded(pats, texts, ks)
            under = exact <= ks
            assert (banded[under] == exact[under]).all()
            assert (banded[~under] > ks[~under]).all()

    def test_damerau_banded_matches_exact(self):
        """Cutoff-banded damerau DP (reference damerau_levenshtein.rs:
        111-168) equals the full DP at/below cutoff, stays above it
        otherwise."""
        import random

        import numpy as np

        from rapidfuzz_spark.kernels import batch as B

        random.seed(13)
        pairs, ks = [], []
        for _ in range(250):
            la = random.randint(8, 350)
            lb = random.randint(8, 350)
            al = random.choice(["ab", "abcdef"])
            pairs.append(
                (
                    "".join(random.choice(al) for _ in range(la)),
                    "".join(random.choice(al) for _ in range(lb)),
                )
            )
            ks.append(random.choice([0, 2, 8, 30, 120]))
        a = np.array([p[0] for p in pairs], dtype=object)
        b = np.array([p[1] for p in pairs], dtype=object)
        kv = np.asarray(ks, dtype=np.int64)
        exact = B.damerau_batch(a, b)
        banded = B.damerau_batch(a, b, k=kv)
        under = exact <= kv
        assert (banded[under] == exact[under]).all()
        assert (banded[~under] > kv[~under]).all()


class TestMbleven:
    """Small-cutoff enumeration fast path (reference mbleven2018,
    levenshtein.rs:311-427; routed for cutoff < 4 at :1142-1147)."""

    def test_fuzz_parity_vs_full_kernel(self):
        import random

        from rapidfuzz_spark.kernels import levenshtein as L

        random.seed(41)
        for _ in range(3000):
            a = "".join(random.choices("abc", k=random.randint(0, 12)))
            b = "".join(random.choices("abc", k=random.randint(0, 12)))
            true = L.uniform_distance(a, b)
            for k in range(4):
                got = L.bounded_distance(a, b, k)
                if true <= k:
                    assert got == true, (a, b, k)
                else:
                    assert got > k, (a, b, k)

    def test_long_string_small_cutoff(self):
        from rapidfuzz_spark.kernels import levenshtein as L

        a = "q" + "x" * 50000 + "r"
        b = "s" + "x" * 50000 + "t"
        assert L.bounded_distance(a, b, 2) == 2
        assert L.bounded_distance(a, b, 1) > 1
        assert L.distance(a, b, score_cutoff=2) == 2
        assert L.distance(a, b, score_cutoff=1) is None

    def test_scalar_surface_boundaries_unchanged(self):
        from rapidfuzz_spark.kernels import levenshtein as L

        # reference cutoff ladder (levenshtein.rs:2023-2066)
        for c, want in [(4, 2), (3, 2), (2, 2), (1, None), (0, None)]:
            assert L.distance("South Korea", "North Korea", score_cutoff=c) == want
        assert L.normalized_similarity("kitten", "sitting", score_cutoff=0.57) is not None
        assert L.normalized_similarity("kitten", "sitting", score_cutoff=0.58) is None

    def test_batch_small_cutoff_long_pairs(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B

        a = np.array(["q" + "x" * 200 + "r", "kitten", "abc" * 80], dtype=object)
        b = np.array(["s" + "x" * 200 + "t", "sitting", "abd" * 80], dtype=object)
        k = np.asarray([2, 3, 1], dtype=np.int64)
        exact = B.levenshtein_batch(a, b)
        bounded = B.levenshtein_batch(a, b, k=k)
        under = exact <= k
        assert (bounded[under] == exact[under]).all()
        assert (bounded[~under] > k[~under]).all()


class TestNumpyAffixScan:
    def test_parity_and_unicode(self):
        import random

        from rapidfuzz_spark.kernels.common import (
            common_prefix_len,
            common_suffix_len,
        )

        random.seed(5)
        for alphabet in ["ab", "日本語中文한국"]:
            for _ in range(100):
                n = random.randint(512, 1500)
                a = "".join(random.choices(alphabet, k=n))
                bl = list(a)
                for _ in range(random.randint(0, 4)):
                    bl[random.randrange(n)] = "z"
                b = "".join(bl)
                p = 0
                while p < n and a[p] == b[p]:
                    p += 1
                s = 0
                while s < n and a[n - 1 - s] == b[n - 1 - s]:
                    s += 1
                assert common_prefix_len(a, b) == p
                assert common_suffix_len(a, b) == s
        big = "x" * 100000
        assert common_prefix_len(big, big) == 100000
        assert common_suffix_len(big + "a", big + "b") == 0


class TestMblevenIndelLcs:
    """Indel/LCS small-bound enumeration (reference lcs_seq.rs:113-197
    via indel.rs:66-105): op alphabet {delete, insert}, no substitutions."""

    def test_fuzz_parity(self):
        import random

        from rapidfuzz_spark.kernels import lcs_indel as LI

        random.seed(17)
        for _ in range(1500):
            a = "".join(random.choices("abc", k=random.randint(0, 12)))
            b = "".join(random.choices("abc", k=random.randint(0, 12)))
            ti = LI.indel_raw_distance(a, b)
            tl = max(len(a), len(b)) - LI.lcs_similarity_raw(a, b)
            for k in range(6):
                gi = LI.bounded_indel_distance(a, b, k)
                gl = LI.bounded_lcs_dist(a, b, k)
                assert (gi == ti) if ti <= k else (gi > k), (a, b, k)
                assert (gl == tl) if tl <= k else (gl > k), (a, b, k)

    def test_surface_and_comparator_cutoffs(self):
        import rapidfuzz_spark as rf

        assert rf.indel.distance("aaaa", "bbbb", score_cutoff=7) is None
        assert rf.indel.distance("aaaa", "bbbb", score_cutoff=8) == 8
        bc = rf.indel.BatchComparator("kitten")
        assert bc.distance("sitting", score_cutoff=4) is None
        assert bc.distance("sitting", score_cutoff=5) == 5
        assert rf.fuzz.ratio("abcd", "abce", score_cutoff=0.75) == 0.75
        assert rf.fuzz.ratio("abcd", "abcf", score_cutoff=0.76) is None

    def test_long_string_tiny_bound(self):
        from rapidfuzz_spark.kernels import lcs_indel as LI

        a = "q" + "x" * 30000 + "r"
        b = "s" + "x" * 30000 + "t"
        # each end mismatch costs 2 indel ops (delete + insert)
        assert LI.bounded_indel_distance(a, b, 4) == 4
        assert LI.bounded_indel_distance(a, b, 3) > 3
        assert LI.bounded_lcs_dist(a, b, 2) == 2
        assert LI.bounded_lcs_dist(a, b, 1) > 1

    def test_batch_lev_prefilter_bounds(self):
        """indel_batch with per-pair bounds: levenshtein <= indel, so the
        banded-Myers prefilter may only prune pairs provably above the
        bound; survivors must be exact."""
        import random

        import numpy as np

        from rapidfuzz_spark.kernels import batch as B

        random.seed(37)
        pairs = []
        for _ in range(200):
            L = random.choice([20, 100, 300])
            base = "".join(random.choices("abcdef", k=L))
            var = list(base)
            for _ in range(random.randint(0, L // 3)):
                op = random.choice("sdi")
                p = random.randrange(max(len(var), 1))
                if op == "s" and var:
                    var[p] = "z"
                elif op == "d" and var:
                    del var[p]
                else:
                    var.insert(p, "q")
            pairs.append((base, "".join(var)))
        a = np.array([p[0] for p in pairs], dtype=object)
        b = np.array([p[1] for p in pairs], dtype=object)
        exact = B.indel_batch(a, b)
        kv = np.array(
            [random.choice([1, 3, 8, 30, 200]) for _ in pairs], dtype=np.int64
        )
        got = B.indel_batch(a, b, k=kv)
        under = exact <= kv
        assert (got[under] == exact[under]).all()
        assert (got[~under] > kv[~under]).all()


class TestJaroCutoffEarlyExit:
    """In-kernel phase-1 early exit (jaro.rs:300-320 bound semantics):
    pairs provably below the cutoff return the -1.0 sentinel; every
    non-sentinel value must equal the exact similarity."""

    def _pairs(self, n=300, seed=23):
        import random

        random.seed(seed)
        words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]

        def mk(length):
            s = ""
            while len(s) < length:
                s += random.choice(words) + " "
            return s[:length]

        a, b = [], []
        for i in range(n):
            length = random.randint(40, 700)
            x = mk(length)
            y = (
                x[: length // 2] + random.choice(words) + x[length // 2 :][: length // 2 - 6]
                if i % 3 == 0
                else mk(length)
            )
            a.append(x)
            b.append(y)
        return a, b

    def test_sentinel_only_below_cutoff(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B

        a, b = self._pairs()
        aa = np.array(a, dtype=object)
        bb = np.array(b, dtype=object)
        exact = B.jaro_batch(aa, bb)
        for k in (0.5, 0.8, 0.9, 0.95, 0.99):
            got = B.jaro_batch(aa, bb, k=k)
            sent = got == -1.0
            assert np.allclose(got[~sent], exact[~sent], atol=1e-12)
            if sent.any():
                assert exact[sent].max() < k

    def test_jw_cutoff_translates_through_boost(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B

        a, b = self._pairs(seed=29)
        # add boost-region pairs so winkler-boosted survivors are exercised
        a += ["martha" * 30, "prefix common words"]
        b += ["marhta" * 30, "prefix common wrods"]
        aa = np.array(a, dtype=object)
        bb = np.array(b, dtype=object)
        exact = B.jaro_winkler_batch(aa, bb)
        for k in (0.8, 0.95):
            got = B.jaro_winkler_batch(aa, bb, k=k)
            sent = got == -1.0
            assert np.allclose(got[~sent], exact[~sent], atol=1e-12)
            if sent.any():
                assert exact[sent].max() < k

    def test_cross_alphabet_drops_most(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B

        a = np.array(["alpha bravo charlie " * 10] * 64, dtype=object)
        b = np.array(["дельта эхо фокстрот " * 10] * 64, dtype=object)
        got = B.jaro_batch(a, b, k=0.8)
        assert (got == -1.0).all()  # disjoint alphabets cannot reach 0.8


class TestWeightedBatchVectorized:
    """The generic-weight path (ins != del, or sub < ins+del) is cross-pair
    vectorized (weighted_wf_batch_np) — these lock it to the per-pair
    NumPy-row oracle kernel on adversarial weight tables."""

    def _cases(self, seed=17, n=300):
        import random

        rng = random.Random(seed)
        cases = [
            ("", ""), ("a", ""), ("", "abc"), ("kitten", "sitting"),
            ("abc", "abc"), ("Иванко", "Петрунко"), ("aaaa", "bbbb"),
            ("ab", "ba"), ("South Korea", "North Korea"),
        ]
        for _ in range(n):
            cases.append(
                (
                    "".join(rng.choice("abcde") for _ in range(rng.randrange(0, 40))),
                    "".join(rng.choice("abcde") for _ in range(rng.randrange(0, 40))),
                )
            )
        return cases

    @pytest.mark.parametrize("w", [(2, 3, 1), (1, 2, 3), (3, 1, 2), (5, 2, 4), (2, 2, 1)])
    def test_matches_per_pair_oracle(self, w):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B
        from rapidfuzz_spark.kernels.levenshtein import weighted_distance

        cases = self._cases()
        a = np.array([x for x, _ in cases], dtype=object)
        b = np.array([y for _, y in cases], dtype=object)
        got = B.weighted_levenshtein_batch(a, b, weights=w)
        exp = np.array([weighted_distance(x, y, w) for x, y in cases])
        assert (got == exp).all()

    def test_no_per_pair_dispatch(self):
        """weighted_levenshtein_batch must not call the per-pair kernel —
        the round-2 anti-pattern (VERDICT r2 'What's wrong' #1)."""
        import unittest.mock as mock

        import numpy as np

        from rapidfuzz_spark.kernels import batch as B

        a = np.array(["kitten", "abcd"], dtype=object)
        b = np.array(["sitting", "dcba"], dtype=object)
        with mock.patch(
            "rapidfuzz_spark.kernels.batch.wagner_fischer_weighted",
            side_effect=AssertionError("per-pair dispatch in batch path"),
        ):
            out = B.weighted_levenshtein_batch(a, b, weights=(2, 3, 1))
        # kitten->sitting: sub k, sub e, ins t = 1+1+2; abcd->dcba: 4 subs
        assert out.tolist() == [4, 4]


class TestScoreHintBanding:
    """score_hint feeds the banded kernel's start band with a verify +
    band-doubling loop (reference levenshtein.rs:1069-1088,1176-1209).
    Results must be IDENTICAL for every hint value — right, too small,
    too large — with and without a cutoff."""

    def _pairs(self, L=1000, n=200, seed=11):
        import random

        rng = random.Random(seed)
        alpha = "abcdefghijklmnopqrstuvwxyz 0123456789"

        def mutate(s, nedit):
            s = list(s)
            for _ in range(nedit):
                op = rng.randrange(3)
                i = rng.randrange(len(s))
                if op == 0:
                    s[i] = rng.choice(alpha)
                elif op == 1:
                    del s[i]
                else:
                    s.insert(i, rng.choice(alpha))
            return "".join(s)

        base = ["".join(rng.choice(alpha) for _ in range(L)) for _ in range(n)]
        return base, [mutate(s, rng.randrange(1, 40)) for s in base]

    def test_hint_invariant_results(self):
        import numpy as np

        from rapidfuzz_spark.kernels import batch as B

        a, b = self._pairs()
        aa = np.array(a, dtype=object)
        bb = np.array(b, dtype=object)
        exact = B.levenshtein_batch(aa, bb)
        for hval in (4, 8, 40, 120, 10_000):
            hint = np.full(len(aa), hval, dtype=np.int64)
            got = B.levenshtein_batch(aa, bb, hint=hint)
            assert (got == exact).all(), hval
            # with a cutoff: keep-decision must match the exact one
            kb = np.full(len(aa), 60, dtype=np.int64)
            gk = B.levenshtein_batch(aa, bb, k=kb, hint=hint)
            assert ((gk <= 60) == (exact <= 60)).all(), hval
            assert (gk[exact <= 60] == exact[exact <= 60]).all(), hval

    def test_hint_through_column_api(self, spark):
        import rapidfuzz_spark.functions as RF

        a, b = self._pairs(L=900, n=60, seed=5)
        df = spark.createDataFrame(list(zip(a, b)), "s1 string, s2 string")
        base = [r.d for r in df.select(
            RF.levenshtein_distance("s1", "s2").alias("d")).collect()]
        hinted = [r.d for r in df.select(
            RF.levenshtein_distance("s1", "s2", score_hint=25).alias("d")).collect()]
        assert hinted == base
        # normalized-similarity space hint + cutoff
        b1 = [r.d for r in df.select(RF.levenshtein_normalized_similarity(
            "s1", "s2", score_cutoff=0.9).alias("d")).collect()]
        b2 = [r.d for r in df.select(RF.levenshtein_normalized_similarity(
            "s1", "s2", score_cutoff=0.9, score_hint=0.97).alias("d")).collect()]
        assert b1 == b2
