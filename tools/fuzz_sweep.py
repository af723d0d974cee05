"""High-volume differential fuzz sweep over the batch kernels.

One-off (but rerunnable) deep check, much larger than the committed
tests/test_differential_fuzz.py suite. Two tiers:

Tier A — volume (default 500k pairs, vectorized): cross-metric
identities and routing-contract checks that need no per-pair Python:
  * indel == len_a + len_b - 2*lcs          (exact identity)
  * damerau <= osa <= lev <= indel          (edit-op subset ordering)
  * hamming(pad=True) >= lev                (hamming is lev w/o indels)
  * weighted (1,1,1) == lev; (1,1,2) == indel   (rewrite routes)
  * cutoff contract: result <= k  ->  equals the uncut distance;
                     result >  k  ->  uncut distance also > k
  * prefix/postfix vs a direct vectorized common-affix computation

Tier B — depth (default 24k pairs): per-pair batch vs the scalar API
(itself locked to the reference oracle vectors by test_kernels.py), and
scalar vs INDEPENDENT brute-force DPs implemented in this file from the
textbook recurrences (Wagner-Fischer, Lowrance-Wagner, Jaro) — a third
implementation that shares no code with either kernel family.

Deterministic (--seed). Prints one JSON summary line; exit 1 on any
mismatch with a self-contained repro tuple.

Usage: python tools/fuzz_sweep.py [--pairs 500000] [--deep 24000] [--seed 7]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

import numpy as np
import pandas as pd

# the checkout this file lives in, whatever the working directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import rapidfuzz_spark.api as A  # noqa: E402
import rapidfuzz_spark.kernels.batch as B  # noqa: E402

ALPHAS = [
    "ab",
    "abc",
    "abcdefghij",
    "abcdefghijklmnopqrstuvwxyz 0123456789",
    "абвгд",  # cyrillic (latin-1 overflow path)
    "漢字かなカナ",  # CJK
    "a",
    "xyz ",
]
# lengths straddle every routing seam: 0/empty, the 64/65-char seam
# between one-word and multi-word patterns (and the all-short
# whole-batch fast path), and word counts from 1 to 33 mixed in one
# blockwise chunk, whose cutoff drops pairs of every word count; the
# big-int route above _BLOCK_MAX_WORDS (250 words) is covered by
# tests/test_kernels.py::test_long_string_routing_contract
LENS = [0, 1, 3, 9, 30, 63, 64, 65, 127, 200, 511, 700, 1023, 1024,
        1500, 1535, 1536, 1537, 2100]

WEIGHTS = [(1, 1, 1), (1, 1, 2), (1, 2, 3), (2, 3, 1), (3, 1, 5), (2, 2, 3), (1, 4, 2)]


def _rand_str(rng: random.Random, maxlen: int) -> str:
    al = rng.choice(ALPHAS)
    return "".join(rng.choice(al) for _ in range(rng.randint(0, maxlen)))


def _mutate(rng: random.Random, s: str, edits: int) -> str:
    """Apply `edits` random edit ops so pair distances are small — this is
    what makes the mbleven and cut-kernel paths produce meaningful (non-
    sentinel) results instead of the far-apart random-pair regime."""
    out = list(s)
    al = rng.choice(ALPHAS)
    for _ in range(edits):
        op = rng.randrange(4)
        if op == 0 and out:  # substitute
            out[rng.randrange(len(out))] = rng.choice(al)
        elif op == 1:  # insert
            out.insert(rng.randint(0, len(out)), rng.choice(al))
        elif op == 2 and out:  # delete
            del out[rng.randrange(len(out))]
        elif op == 3 and len(out) >= 2:  # transpose
            i = rng.randrange(len(out) - 1)
            out[i], out[i + 1] = out[i + 1], out[i]
    return "".join(out)


def gen_pairs(rng: random.Random, n: int, max_len_cap: int | None = None):
    """~50% mutation pairs (near dups), ~35% independent random pairs,
    ~15% adversarial: shared-affix pairs, equal, empty-vs-x."""
    a_list, b_list = [], []
    for _ in range(n):
        ml = rng.choice(LENS)
        if max_len_cap is not None:
            ml = min(ml, max_len_cap)
        roll = rng.random()
        if roll < 0.50:
            a = _rand_str(rng, ml)
            b = _mutate(rng, a, rng.choice([0, 1, 1, 2, 2, 3, 4, 7, 12]))
        elif roll < 0.85:
            a = _rand_str(rng, ml)
            b = _rand_str(rng, rng.choice(LENS) if max_len_cap is None else ml)
        elif roll < 0.93:
            core_a = _rand_str(rng, max(ml // 2, 1))
            core_b = _mutate(rng, core_a, rng.randint(0, 3))
            aff = _rand_str(rng, ml // 2)
            a, b = aff + core_a + aff[::-1], aff + core_b + aff[::-1]
        elif roll < 0.97:
            a = _rand_str(rng, ml)
            b = a
        else:
            a, b = "", _rand_str(rng, ml)
        a_list.append(a)
        b_list.append(b)
    return (
        np.array(a_list, dtype=object),
        np.array(b_list, dtype=object),
    )


FAILS: list = []


def _fail(name: str, repro) -> None:
    FAILS.append((name, repro))
    print(f"FAIL {name}: {repro!r}", file=sys.stderr)


# ---------------------------------------------------------------- tier A


def tier_a(rng: random.Random, total: int, batch: int = 20000) -> int:
    checked = 0
    while checked < total:
        n = min(batch, total - checked)
        aa, bb = gen_pairs(rng, n)
        la = np.fromiter((len(x) for x in aa), dtype=np.int64, count=n)
        lb = np.fromiter((len(x) for x in bb), dtype=np.int64, count=n)

        lev = B.levenshtein_batch(aa, bb)
        ind = B.indel_batch(aa, bb)
        lcs = B.lcs_similarity_batch(aa, bb)
        osa = B.osa_batch(aa, bb)
        # damerau O(n*m) numpy DP: cap the padded-matrix size
        dam_mask = np.maximum(la, lb) <= 700
        ham = B.hamming_batch(aa, bb, pad=True)

        if not np.array_equal(ind, la + lb - 2 * lcs):
            i = int(np.nonzero(ind != la + lb - 2 * lcs)[0][0])
            _fail("indel==la+lb-2*lcs", (aa[i], bb[i], int(ind[i]), int(lcs[i])))
        if np.any(osa > lev):
            i = int(np.nonzero(osa > lev)[0][0])
            _fail("osa<=lev", (aa[i], bb[i], int(osa[i]), int(lev[i])))
        if np.any(lev > ind):
            i = int(np.nonzero(lev > ind)[0][0])
            _fail("lev<=indel", (aa[i], bb[i], int(lev[i]), int(ind[i])))
        if np.any(ham < lev):
            i = int(np.nonzero(ham < lev)[0][0])
            _fail("hamming>=lev", (aa[i], bb[i], int(ham[i]), int(lev[i])))
        if dam_mask.any():
            dam = B.damerau_batch(aa[dam_mask], bb[dam_mask])
            if np.any(dam > osa[dam_mask]):
                sub = np.nonzero(dam > osa[dam_mask])[0]
                i = int(np.nonzero(dam_mask)[0][sub[0]])
                _fail("damerau<=osa", (aa[i], bb[i]))

        # weight rewrites vs dedicated kernels
        w111 = B.weighted_levenshtein_batch(aa, bb, weights=(1, 1, 1))
        if not np.array_equal(w111, lev):
            i = int(np.nonzero(w111 != lev)[0][0])
            _fail("weights(1,1,1)==lev", (aa[i], bb[i], int(w111[i]), int(lev[i])))
        w112 = B.weighted_levenshtein_batch(aa, bb, weights=(1, 1, 2))
        if not np.array_equal(w112, ind):
            i = int(np.nonzero(w112 != ind)[0][0])
            _fail("weights(1,1,2)==indel", (aa[i], bb[i], int(w112[i]), int(ind[i])))

        # cutoff contract across a spread of per-pair bounds
        ks = np.array(
            [rng.choice([0, 1, 2, 3, 4, 5, 9, 17, 40, 150, 10**9]) for _ in range(n)],
            dtype=np.int64,
        )
        for name, fn, uncut in (
            ("lev", B.levenshtein_batch, lev),
            ("indel", B.indel_batch, ind),
        ):
            cut = fn(aa, bb, k=ks)
            within = cut <= ks
            bad = within & (cut != uncut)
            if bad.any():
                i = int(np.nonzero(bad)[0][0])
                _fail(f"{name} cutoff<=k exact", (aa[i], bb[i], int(ks[i]), int(cut[i]), int(uncut[i])))
            bad = ~within & (uncut <= ks)
            if bad.any():
                i = int(np.nonzero(bad)[0][0])
                _fail(f"{name} cutoff sentinel soundness", (aa[i], bb[i], int(ks[i]), int(cut[i]), int(uncut[i])))

        # prefix/postfix vs direct computation
        pre = B.prefix_batch(aa, bb)
        post = B.postfix_batch(aa, bb)
        for i in rng.sample(range(n), min(300, n)):
            a, b = aa[i], bb[i]
            p = 0
            for x, y in zip(a, b):
                if x != y:
                    break
                p += 1
            s = 0
            for x, y in zip(reversed(a), reversed(b)):
                if x != y:
                    break
                s += 1
            if int(pre[i]) != p:
                _fail("prefix", (a, b, int(pre[i]), p))
            if int(post[i]) != s:
                _fail("postfix", (a, b, int(post[i]), s))

        checked += n
        print(f"  tier A: {checked}/{total} pairs", file=sys.stderr)
    return checked


# ------------------------------------------------------- brute oracles


def brute_weighted_lev(a: str, b: str, w=(1, 1, 1)) -> int:
    """Textbook Wagner-Fischer with op weights (ins, del, sub)."""
    wi, wd, ws = w
    prev = [j * wi for j in range(len(b) + 1)]
    for i, ca in enumerate(a, 1):
        cur = [i * wd] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = min(
                prev[j] + wd,
                cur[j - 1] + wi,
                prev[j - 1] + (0 if ca == cb else ws),
            )
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
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[-1][-1]


def brute_damerau(a: str, b: str) -> int:
    """Lowrance-Wagner unrestricted transposition DP."""
    maxdist = len(a) + len(b)
    da: dict = {}
    d = [[0] * (len(b) + 2) for _ in range(len(a) + 2)]
    d[0][0] = maxdist
    for i in range(len(a) + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(len(b) + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    for i in range(1, len(a) + 1):
        db = 0
        for j in range(1, len(b) + 1):
            k, ell = da.get(b[j - 1], 0), db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][ell] + (i - k - 1) + 1 + (j - ell - 1),
            )
        da[a[i - 1]] = i
    return d[-1][-1]


def brute_lcs(a: str, b: str) -> int:
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0] * (len(b) + 1)
        for j, cb in enumerate(b, 1):
            cur[j] = prev[j - 1] + 1 if ca == cb else max(prev[j], cur[j - 1])
        prev = cur
    return prev[-1]


def brute_jaro(a: str, b: str) -> float:
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    # reference matching order (jaro.rs, mirrored by kernels/jaro.py):
    # iterate s2's chars, flag the LOWEST unflagged s1 position within the
    # window |i - j| <= bound; transpositions compare flagged s1 chars in
    # position order against matched s2 chars in match order
    win = max(max(len(a), len(b)) // 2 - 1, 0)
    flagged_a = [False] * len(a)
    b_matched = []
    for j, cb in enumerate(b):
        for i in range(max(0, j - win), min(len(a), j + win + 1)):
            if not flagged_a[i] and a[i] == cb:
                flagged_a[i] = True
                b_matched.append(cb)
                break
    m = len(b_matched)
    if m == 0:
        return 0.0
    a_matched = [a[i] for i, f in enumerate(flagged_a) if f]
    t = sum(1 for x, y in zip(a_matched, b_matched) if x != y) // 2
    return (m / len(a) + m / len(b) + (m - t) / m) / 3


# ---------------------------------------------------------------- tier B


def tier_b(rng: random.Random, total: int, batch: int = 3000) -> int:
    checked = 0
    while checked < total:
        n = min(batch, total - checked)
        aa, bb = gen_pairs(rng, n, max_len_cap=320)
        lev = B.levenshtein_batch(aa, bb)
        ind = B.indel_batch(aa, bb)
        lcs = B.lcs_similarity_batch(aa, bb)
        osa = B.osa_batch(aa, bb)
        dam = B.damerau_batch(aa, bb)
        jar = B.jaro_batch(aa, bb)
        jw = B.jaro_winkler_batch(aa, bb, prefix_weight=0.1)
        jw08 = B.jaro_winkler_batch(aa, bb, prefix_weight=0.08)
        wbats = {w: B.weighted_levenshtein_batch(aa, bb, weights=w) for w in WEIGHTS}
        for i in range(n):
            a, b = aa[i], bb[i]
            if int(lev[i]) != A.levenshtein.distance(a, b):
                _fail("B.lev vs scalar", (a, b, int(lev[i])))
            if int(ind[i]) != A.indel.distance(a, b):
                _fail("B.indel vs scalar", (a, b, int(ind[i])))
            if int(lcs[i]) != A.lcs_seq.similarity(a, b):
                _fail("B.lcs vs scalar", (a, b, int(lcs[i])))
            if int(osa[i]) != A.osa.distance(a, b):
                _fail("B.osa vs scalar", (a, b, int(osa[i])))
            if int(dam[i]) != A.damerau_levenshtein.distance(a, b):
                _fail("B.damerau vs scalar", (a, b, int(dam[i])))
            if abs(float(jar[i]) - A.jaro.similarity(a, b)) > 1e-12:
                _fail("B.jaro vs scalar", (a, b, float(jar[i])))
            if abs(float(jw[i]) - A.jaro_winkler.similarity(a, b)) > 1e-12:
                _fail("B.jw vs scalar", (a, b, float(jw[i])))
            if (
                abs(float(jw08[i]) - A.jaro_winkler.similarity(a, b, prefix_weight=0.08))
                > 1e-12
            ):
                _fail("B.jw08 vs scalar", (a, b, float(jw08[i])))
            for w in WEIGHTS:
                if int(wbats[w][i]) != A.levenshtein.distance(a, b, weights=w):
                    _fail(f"B.weighted{w} vs scalar", (a, b, int(wbats[w][i])))
            # independent brute-force DPs on the short sub-population
            if max(len(a), len(b)) <= 48:
                if int(lev[i]) != brute_weighted_lev(a, b):
                    _fail("lev vs brute", (a, b, int(lev[i]), brute_weighted_lev(a, b)))
                if int(osa[i]) != brute_osa(a, b):
                    _fail("osa vs brute", (a, b, int(osa[i]), brute_osa(a, b)))
                if int(dam[i]) != brute_damerau(a, b):
                    _fail("damerau vs brute", (a, b, int(dam[i]), brute_damerau(a, b)))
                if int(lcs[i]) != brute_lcs(a, b):
                    _fail("lcs vs brute", (a, b, int(lcs[i]), brute_lcs(a, b)))
                if abs(float(jar[i]) - brute_jaro(a, b)) > 1e-12:
                    _fail("jaro vs brute", (a, b, float(jar[i]), brute_jaro(a, b)))
                for w in WEIGHTS:
                    bw = brute_weighted_lev(a, b, w)
                    if int(wbats[w][i]) != bw:
                        _fail(f"weighted{w} vs brute", (a, b, int(wbats[w][i]), bw))
                r = A.fuzz.ratio(a, b)
                want = 1.0 if not (a or b) else 1.0 - brute_weighted_lev(a, b, (1, 1, 2)) / (len(a) + len(b))
                if abs(r - want) > 1e-12:
                    _fail("fuzz.ratio vs brute", (a, b, r, want))
        checked += n
        print(f"  tier B: {checked}/{total} pairs", file=sys.stderr)
    return checked


# ---------------------------------------------------------------- tier C


def tier_c(rng: random.Random, groups: int, texts_per: int = 8) -> int:
    """One×many API surface: every metric's BatchComparator (cached
    pattern state) vs the plain 4-function surface, the normalized
    dist+sim==1 identity, the score_cutoff None contract, and score_hint
    output-invariance. fuzz.RatioBatchComparator vs fuzz.ratio."""
    surfaces = {
        "levenshtein": (A.levenshtein, {}),
        "indel": (A.indel, {}),
        "lcs_seq": (A.lcs_seq, {}),
        "damerau": (A.damerau_levenshtein, {}),
        "osa": (A.osa, {}),
        "jaro": (A.jaro, {}),
        "jaro_winkler": (A.jaro_winkler, {}),
        "hamming": (A.hamming, {"pad": True}),
        "prefix": (A.prefix, {}),
        "postfix": (A.postfix, {}),
    }
    checked = 0
    for g in range(groups):
        ml = rng.choice([4, 12, 40, 64, 64, 64, 200])
        s1 = _rand_str(rng, ml)
        texts = [
            _mutate(rng, s1, rng.choice([0, 1, 2, 3, 6, 15]))
            if rng.random() < 0.6
            else _rand_str(rng, ml)
            for _ in range(texts_per)
        ]
        for name, (M, kw) in surfaces.items():
            bc = M.BatchComparator(s1, **kw)
            for s2 in texts:
                d = M.distance(s1, s2, **kw)
                s = M.similarity(s1, s2, **kw)
                nd = M.normalized_distance(s1, s2, **kw)
                nsim = M.normalized_similarity(s1, s2, **kw)
                if (
                    bc.distance(s2) != d
                    or bc.similarity(s2) != s
                    or abs(bc.normalized_distance(s2) - nd) > 1e-12
                    or abs(bc.normalized_similarity(s2) - nsim) > 1e-12
                ):
                    _fail(f"{name}.BatchComparator vs plain", (s1, s2))
                if not (-1e-12 <= nd <= 1 + 1e-12) or abs(nd + nsim - 1.0) > 1e-12:
                    _fail(f"{name} normalized identity", (s1, s2, nd, nsim))
                # cutoff contract: None iff the unfiltered score fails it
                kd = rng.choice([0, 1, 2, 5, 20])
                cd = M.distance(s1, s2, score_cutoff=kd, **kw)
                if (cd is None) != (d > kd) or (cd is not None and cd != d):
                    _fail(f"{name} distance cutoff", (s1, s2, kd, cd, d))
                kn = rng.choice([0.0, 0.3, 0.7, 0.95, 1.0])
                cn = M.normalized_similarity(s1, s2, score_cutoff=kn, **kw)
                if (cn is None) != (nsim < kn) or (
                    cn is not None and abs(cn - nsim) > 1e-12
                ):
                    _fail(f"{name} norm-sim cutoff", (s1, s2, kn, cn, nsim))
                # score_hint is semantics-free: output must be invariant
                hd = M.distance(s1, s2, score_hint=rng.choice([0, 1, 7, 100]), **kw)
                if hd != d:
                    _fail(f"{name} score_hint invariance", (s1, s2, hd, d))
                checked += 1
        rbc = A.fuzz.RatioBatchComparator(s1)
        for s2 in texts:
            if abs(rbc.similarity(s2) - A.fuzz.ratio(s1, s2)) > 1e-12:
                _fail("RatioBatchComparator vs fuzz.ratio", (s1, s2))
        if (g + 1) % 100 == 0:
            print(f"  tier C: {g + 1}/{groups} groups", file=sys.stderr)
    return checked


# ---------------------------------------------------------------- tier D


def tier_d(rng: random.Random, rows: int) -> int:
    """Spark Column-API differential: random pairs WITH SQL nulls pushed
    through the pandas-UDF layer (Arrow batch slicing, null masking, the
    cutoff keep-mask, params passthrough, and the seq re-encode path) and
    compared row-by-row against the scalar API. The fixture-backed oracle
    gate runs this layer on FIXED data; this runs it on adversarial
    random data across multiple Arrow batches."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import rapidfuzz_spark.functions as Fn

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Python workers import the package from this checkout too: a
        # local worker puts its working directory first without
        # PYTHONSAFEPATH
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
        .appName("fuzz_sweep_tier_d")
        .getOrCreate()
    )
    data = []
    for i in range(rows):
        ml = rng.choice([0, 2, 8, 30, 64, 130, 300])
        a = _rand_str(rng, ml)
        b = (
            _mutate(rng, a, rng.choice([0, 1, 2, 4, 9]))
            if rng.random() < 0.6
            else _rand_str(rng, ml)
        )
        if rng.random() < 0.08:
            a = None
        if rng.random() < 0.08:
            b = None
        data.append((i, a, b))
    df = spark.createDataFrame(data, "id long, s1 string, s2 string")
    # array<int> codepoint views of the same strings: the seq path must
    # agree with the string path exactly
    df = df.withColumn(
        "q1", F.transform(F.split("s1", ""), lambda c: F.ascii(c))
    ).withColumn("q2", F.transform(F.split("s2", ""), lambda c: F.ascii(c)))
    # F.ascii is byte-oriented for non-ASCII — restrict seq columns to
    # ASCII-only rows via a guard column instead of trusting it
    df = df.withColumn(
        "seq_ok",
        (F.coalesce(F.col("s1"), F.lit("")).rlike("^[\\x00-\\x7f]*$"))
        & (F.coalesce(F.col("s2"), F.lit("")).rlike("^[\\x00-\\x7f]*$")),
    )
    out = df.select(
        "id",
        "s1",
        "s2",
        "seq_ok",
        Fn.levenshtein_distance("s1", "s2").alias("lev"),
        Fn.levenshtein_similarity("s1", "s2").alias("lev_sim"),
        Fn.levenshtein_normalized_similarity("s1", "s2").alias("lev_nsim"),
        Fn.levenshtein_distance("s1", "s2", score_cutoff=3).alias("lev_c3"),
        Fn.levenshtein_similarity("s1", "s2", score_cutoff=20).alias("lev_sim_c"),
        Fn.levenshtein_normalized_distance("s1", "s2", score_cutoff=0.3).alias(
            "lev_nd_c"
        ),
        Fn.jaro_winkler_distance("s1", "s2", score_cutoff=0.2).alias("jw_d_c"),
        Fn.levenshtein_distance("s1", "s2", weights=(1, 2, 3)).alias("lev_w123"),
        Fn.levenshtein_distance("s1", "s2", score_hint=2).alias("lev_h2"),
        Fn.indel_distance("s1", "s2").alias("indel"),
        Fn.lcs_seq_similarity("s1", "s2").alias("lcs"),
        Fn.osa_distance("s1", "s2").alias("osa"),
        Fn.damerau_levenshtein_distance("s1", "s2").alias("dam"),
        Fn.hamming_distance("s1", "s2", pad=True).alias("ham"),
        Fn.prefix_similarity("s1", "s2").alias("pre"),
        Fn.postfix_similarity("s1", "s2").alias("post"),
        Fn.jaro_similarity("s1", "s2").alias("jaro"),
        Fn.jaro_winkler_similarity("s1", "s2", prefix_weight=0.08).alias("jw08"),
        Fn.ratio("s1", "s2").alias("ratio"),
        Fn.ratio("s1", "s2", score_cutoff=0.7).alias("ratio_c"),
        Fn.levenshtein_distance_seq("q1", "q2").alias("lev_seq"),
        Fn.osa_distance_seq("q1", "q2").alias("osa_seq"),
        Fn.levenshtein_distance_seq("q1", "q2", score_cutoff=3).alias("lev_seq_c"),
        Fn.levenshtein_distance_seq("q1", "q2", score_hint=2).alias("lev_seq_h"),
    ).toPandas()
    checked = 0
    for r in out.itertuples(index=False):
        a, b = r.s1, r.s2
        if a is None or b is None:
            for col in out.columns[4:]:
                if getattr(r, col) is not None and not pd.isna(getattr(r, col)):
                    _fail(f"spark null-prop {col}", (a, b, getattr(r, col)))
            checked += 1
            continue

        def ck(col, want, tol=0.0):
            got = getattr(r, col)
            if want is None:
                if got is not None and not pd.isna(got):
                    _fail(f"spark {col} cutoff-null", (a, b, got))
            elif got is None or pd.isna(got) or (
                abs(float(got) - want) > tol if tol else got != want
            ):
                _fail(f"spark {col}", (a, b, got, want))

        ck("lev", A.levenshtein.distance(a, b))
        ck("lev_sim", A.levenshtein.similarity(a, b))
        ck("lev_nsim", A.levenshtein.normalized_similarity(a, b), 1e-9)
        ck("lev_c3", A.levenshtein.distance(a, b, score_cutoff=3))
        ck("lev_sim_c", A.levenshtein.similarity(a, b, score_cutoff=20))
        ck("lev_nd_c", A.levenshtein.normalized_distance(a, b, score_cutoff=0.3), 1e-9)
        ck("jw_d_c", A.jaro_winkler.distance(a, b, score_cutoff=0.2), 1e-9)
        ck("lev_w123", A.levenshtein.distance(a, b, weights=(1, 2, 3)))
        ck("lev_h2", A.levenshtein.distance(a, b))
        ck("indel", A.indel.distance(a, b))
        ck("lcs", A.lcs_seq.similarity(a, b))
        ck("osa", A.osa.distance(a, b))
        ck("dam", A.damerau_levenshtein.distance(a, b))
        ck("ham", A.hamming.distance(a, b, pad=True))
        ck("pre", A.prefix.similarity(a, b))
        ck("post", A.postfix.similarity(a, b))
        ck("jaro", A.jaro.similarity(a, b), 1e-9)
        ck("jw08", A.jaro_winkler.similarity(a, b, prefix_weight=0.08), 1e-9)
        ck("ratio", A.fuzz.ratio(a, b), 1e-9)
        ck("ratio_c", A.fuzz.ratio(a, b, score_cutoff=0.7), 1e-9)
        if r.seq_ok:
            ck("lev_seq", A.levenshtein.distance(a, b))
            ck("osa_seq", A.osa.distance(a, b))
            ck("lev_seq_c", A.levenshtein.distance(a, b, score_cutoff=3))
            ck("lev_seq_h", A.levenshtein.distance(a, b))
        checked += 1
    spark.stop()
    return checked


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=500_000)
    ap.add_argument("--deep", type=int, default=24_000)
    ap.add_argument("--comp-groups", type=int, default=400)
    ap.add_argument("--spark-rows", type=int, default=0)
    ap.add_argument("--seed", type=int, default=7)
    ns = ap.parse_args()
    rng = random.Random(ns.seed)
    a = tier_a(rng, ns.pairs)
    b = tier_b(rng, ns.deep)
    c = tier_c(rng, ns.comp_groups)
    d = tier_d(rng, ns.spark_rows) if ns.spark_rows else 0
    print(
        json.dumps(
            {
                "tier_a_pairs": a,
                "tier_b_pairs": b,
                "tier_c_checks": c,
                "tier_d_rows": d,
                "seed": ns.seed,
                "failures": len(FAILS),
                "ok": not FAILS,
            }
        )
    )
    return 1 if FAILS else 0


if __name__ == "__main__":
    sys.exit(main())
