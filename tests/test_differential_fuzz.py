"""Seeded differential fuzz: batch kernels vs the scalar API across every
routing boundary at once.

The per-pair routing in kernels/batch.py (the wavefront blockwise kernels
for every word count, cut at a per-pair bound, mbleven under tiny bounds,
Python-int fallback beyond) means a single logical query can take three
different code paths inside one Arrow batch. tests/test_properties.py
covers short strings vs brute-force DPs; this file stresses the *routing
seams* — mixed-length batches with per-pair bounds straddling the
mbleven (<=3/4) cutover, bounds below and above the pair's distance, and
the one-word/multi-word seam — against the scalar kernels, which are
themselves locked to the reference oracle vectors
(/root/reference/src/distance/*.rs) by test_kernels.py.

Deterministic (fixed seed): failures reproduce exactly.
"""

from __future__ import annotations

import random

import numpy as np

import rapidfuzz_spark.api as A
import rapidfuzz_spark.kernels.batch as B

ALPHAS = ["ab", "abc", "abcdefghij", "абвг", "漢字かな", "a", "xyz "]


def _rnd(rng: random.Random, maxlen: int) -> str:
    al = rng.choice(ALPHAS)
    return "".join(rng.choice(al) for _ in range(rng.randint(0, maxlen)))


def test_single_pair_all_metrics_all_cutoffs():
    rng = random.Random(7)
    for _ in range(60):
        maxlen = rng.choice([5, 30, 80, 200, 900, 1500])
        a, b = _rnd(rng, maxlen), _rnd(rng, maxlen)
        aa = np.array([a], dtype=object)
        bb = np.array([b], dtype=object)
        assert int(B.levenshtein_batch(aa, bb)[0]) == A.levenshtein.distance(a, b)
        assert int(B.indel_batch(aa, bb)[0]) == A.indel.distance(a, b)
        assert int(B.lcs_similarity_batch(aa, bb)[0]) == A.lcs_seq.similarity(a, b)
        assert int(B.osa_batch(aa, bb)[0]) == A.osa.distance(a, b)
        if maxlen <= 900:
            assert int(B.damerau_batch(aa, bb)[0]) == A.damerau_levenshtein.distance(a, b)
        assert abs(float(B.jaro_batch(aa, bb)[0]) - A.jaro.similarity(a, b)) < 1e-12
        # cutoffs straddle every routing boundary: 0-3 mbleven, 4 and up
        # the cut blockwise kernel, below and above the distance
        for k in (0, 1, 2, 3, 4, 7, 25, 120):
            ka = np.array([k], dtype=np.int64)
            want = A.levenshtein.distance(a, b, score_cutoff=k)
            got = int(B.levenshtein_batch(aa, bb, k=ka)[0])
            assert (got if got <= k else None) == want, (a, b, k)
            want = A.indel.distance(a, b, score_cutoff=k)
            got = int(B.indel_batch(aa, bb, k=ka)[0])
            assert (got if got <= k else None) == want, (a, b, k)
            if maxlen <= 900:
                want = A.damerau_levenshtein.distance(a, b, score_cutoff=k)
                got = int(B.damerau_batch(aa, bb, k=ka)[0])
                assert (got if got <= k else None) == want, (a, b, k)
        for kc in (0.5, 0.8, 0.95):
            got = float(B.jaro_batch(aa, bb, k=kc)[0])
            want = A.jaro.similarity(a, b, score_cutoff=kc)
            if want is None:
                assert got < kc, (a, b, kc)
            else:
                assert abs(got - want) < 1e-9, (a, b, kc)


def test_mixed_batches_per_pair_bounds():
    rng = random.Random(11)
    for _ in range(6):
        n = rng.randint(1, 300)
        pairs = []
        for _ in range(n):
            ml = rng.choice([3, 20, 70, 130, 300, 1100])
            pairs.append((_rnd(rng, ml), _rnd(rng, ml)))
        aa = np.array([p[0] for p in pairs], dtype=object)
        bb = np.array([p[1] for p in pairs], dtype=object)
        ks = np.array(
            [rng.choice([0, 1, 2, 3, 5, 17, 80, 10**9]) for _ in range(n)],
            dtype=np.int64,
        )
        lev = B.levenshtein_batch(aa, bb)
        levc = B.levenshtein_batch(aa, bb, k=ks)
        ind = B.indel_batch(aa, bb)
        indc = B.indel_batch(aa, bb, k=ks)
        osa = B.osa_batch(aa, bb)
        jar = B.jaro_batch(aa, bb)
        jwc = B.jaro_winkler_batch(aa, bb, prefix_weight=0.08)
        ham = B.hamming_batch(aa, bb, pad=True)
        wl = B.weighted_levenshtein_batch(aa, bb, weights=(1, 2, 3))
        for i in range(n):
            a, b = pairs[i]
            el = A.levenshtein.distance(a, b)
            assert lev[i] == el, (i, a, b)
            # bounded result is exact when within bound; above-bound pairs
            # may carry any sentinel > bound (callers compare to the bound)
            assert levc[i] == el or (el > ks[i] and levc[i] > ks[i]), (i, a, b)
            ei = A.indel.distance(a, b)
            assert ind[i] == ei, (i, a, b)
            assert indc[i] == ei or (ei > ks[i] and indc[i] > ks[i]), (i, a, b)
            assert osa[i] == A.osa.distance(a, b), (i, a, b)
            assert abs(jar[i] - A.jaro.similarity(a, b)) < 1e-12, (i, a, b)
            assert (
                abs(jwc[i] - A.jaro_winkler.similarity(a, b, prefix_weight=0.08))
                < 1e-12
            ), (i, a, b)
            assert ham[i] == A.hamming.distance(a, b, pad=True), (i, a, b)
            assert wl[i] == A.levenshtein.distance(a, b, weights=(1, 2, 3)), (i, a, b)
