"""Spark Column API: one Arrow-vectorized pandas UDF per metric × variant.

The distributed counterpart of ``rapidfuzz_spark.api`` — every function
takes two string Columns and returns a Column, scoring whole Arrow batches
through the NumPy/Python batch engine (kernels/batch.py). No per-row Python
dispatch (driver ``input_hint``: pandas/Arrow UDFs only).

Cutoff semantics (reference /root/reference/src/common.rs:33-86): with a
``score_cutoff`` the result column is nullable — null where the score is
filtered, so a downstream ``WHERE score IS NOT NULL`` is the Catalyst
analogue of the reference's ``Option``.

Example::

    import rapidfuzz_spark.functions as RF
    pairs.select(RF.ratio("name_1", "name_2", score_cutoff=0.85).alias("score"))
"""

from __future__ import annotations

from typing import Optional, Union

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .kernels import batch as B

ColumnOrName = Union[Column, str]

_DIST_BATCH = {
    "levenshtein": B.levenshtein_batch,
    "indel": B.indel_batch,
    "osa": B.osa_batch,
    "damerau_levenshtein": B.damerau_batch,
}
_INTEGRAL_METRICS = (
    "levenshtein",
    "indel",
    "lcs_seq",
    "osa",
    "damerau_levenshtein",
    "hamming",
    "prefix",
    "postfix",
)


def _raw_distance(
    metric: str, a: np.ndarray, b: np.ndarray, k_bound=None, h_bound=None, **params
) -> np.ndarray:
    if metric == "levenshtein":
        w = tuple(params.get("weights") or (1, 1, 1))
        if w == (1, 1, 1):
            return B.levenshtein_batch(a, b, k=k_bound, hint=h_bound)
        return B.weighted_levenshtein_batch(a, b, w)
    if metric == "damerau_levenshtein":
        return B.damerau_batch(a, b, k=k_bound)
    if metric == "indel":
        return B.indel_batch(a, b, k=k_bound)
    if metric == "lcs_seq" and k_bound is not None:
        # lcs_dist = (indel + |dlen|) / 2, so a bound k on lcs_dist is a
        # bound 2k - |dlen| on indel; map the indel sentinel back to k+1
        # explicitly (integer division of the sentinel would round DOWN
        # to k and un-prune a pair)
        dlen = np.abs(
            np.fromiter((len(x) for x in a), np.int64, len(a))
            - np.fromiter((len(x) for x in b), np.int64, len(b))
        )
        k_indel = 2 * k_bound - dlen
        d = B.indel_batch(a, b, k=np.maximum(k_indel, 0))
        return np.where(d > k_indel, k_bound + 1, (d + dlen) // 2)
    if metric == "lcs_seq":
        return B.maximum_batch("lcs_seq", a, b) - B.lcs_similarity_batch(a, b)
    if metric == "hamming":
        raw = B.hamming_batch(a, b, pad=params.get("pad", False))
        if params.get("strict") and (raw < 0).any():
            # reference parity: hamming on unequal lengths without pad is
            # an Err (hamming.rs:232-235) — strict mode raises instead of
            # the default SQL-friendly null
            from .kernels.hamming import DifferentLengthArgs

            bad = int(np.nonzero(raw < 0)[0][0])
            raise DifferentLengthArgs(
                f"hamming strict: unequal lengths {len(a[bad])} != {len(b[bad])}"
            )
        return raw
    if metric == "prefix":
        return B.maximum_batch("prefix", a, b) - B.prefix_batch(a, b)
    if metric == "postfix":
        return B.maximum_batch("postfix", a, b) - B.postfix_batch(a, b)
    return _DIST_BATCH[metric](a, b)


def _maximum(metric: str, a: np.ndarray, b: np.ndarray, **params) -> np.ndarray:
    return B.maximum_batch(metric, a, b, tuple(params.get("weights") or (1, 1, 1)))


def _length_prefilter(
    metric: str, variant: str, a, b, score_cutoff, **params
) -> Optional[np.ndarray]:
    """Pairs that CANNOT reach the cutoff, by the length-difference lower
    bound raw >= |len1-len2| (weights-adjusted for weighted Levenshtein) —
    the reference's length pruning (levenshtein.rs:1045-1047) applied
    vectorized before the kernel. Returns a boolean skip mask or None.
    Only pairs whose keep-decision is provably False are skipped, so
    cutoff semantics are unchanged."""
    n = len(a)
    la = np.fromiter((len(x) for x in a), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) for x in b), dtype=np.int64, count=n)
    w = tuple(params.get("weights") or (1, 1, 1))
    if metric == "levenshtein" and w != (1, 1, 1):
        ins, dele, _ = w
        bound = np.where(la > lb, (la - lb) * dele, (lb - la) * ins).astype(
            np.float64
        )
    else:
        bound = np.abs(la - lb).astype(np.float64)
    maximum = _maximum(metric, a, b, **params).astype(np.float64)
    if variant == "distance":
        skip = bound > score_cutoff
    elif variant == "similarity":
        skip = bound > maximum - score_cutoff
    elif variant == "normalized_distance":
        skip = bound > maximum * score_cutoff
    else:  # normalized_similarity
        safe_max = np.where(maximum > 0, maximum, 1.0)
        skip = (1.0 - bound / safe_max) < score_cutoff
        skip &= maximum > 0  # maximum==0 -> norm_dist 0.0 -> sim 1.0, keep
    return skip if skip.any() else None


def _hamming_strict_check(items1, items2, params: dict) -> dict:
    """Shared strict-hamming length check for the string and seq UDF
    paths: raises ``DifferentLengthArgs`` when any REAL (non-null) row
    pair — the iterables must already be null-filtered — has unequal
    lengths. Runs before any cutoff prefilter, so whether it fires
    cannot depend on the cutoff value. Returns ``params`` with strict
    disabled: the downstream kernel's own strict re-raise would
    otherwise trip on the null-placeholder rows, whose result is SQL
    null, not a length error."""
    la = np.fromiter((len(x) for x in items1), np.int64)
    lb = np.fromiter((len(x) for x in items2), np.int64)
    if (la != lb).any():
        from .kernels.hamming import DifferentLengthArgs

        i = int(np.nonzero(la != lb)[0][0])
        raise DifferentLengthArgs(
            f"hamming strict: unequal lengths {la[i]} != {lb[i]}"
        )
    return {**params, "strict": False}


def _score_block(
    metric: str,
    variant: str,
    a: np.ndarray,
    b: np.ndarray,
    score_cutoff,
    score_hint=None,
    **params,
):
    """Score one Arrow batch -> (values: float64 ndarray, keep_mask)."""
    if score_cutoff is not None and len(a):
        skip = _length_prefilter(metric, variant, a, b, score_cutoff, **params)
        if skip is not None:
            live = ~skip
            vals = np.zeros(len(a), dtype=np.float64)
            keep = np.zeros(len(a), dtype=bool)
            if live.any():
                sub_vals, sub_keep = _score_block(
                    metric,
                    variant,
                    a[live],
                    b[live],
                    score_cutoff,
                    score_hint=score_hint,
                    **params,
                )
                vals[live] = sub_vals
                keep[live] = sub_keep if sub_keep is not None else True
            return vals, keep
    # _maximum is an O(n) Python len() pass — compute it at most once per
    # block (the distance variant's k_bound never reads it at all)
    _mx_cache: list = []

    def _mx() -> np.ndarray:
        if not _mx_cache:
            _mx_cache.append(_maximum(metric, a, b, **params).astype(np.float64))
        return _mx_cache[0]

    k_bound = None
    if (
        score_cutoff is not None
        and metric in ("levenshtein", "damerau_levenshtein", "indel", "lcs_seq")
        and tuple(params.get("weights") or (1, 1, 1)) == (1, 1, 1)
        and len(a)
    ):
        # translate the cutoff into a per-pair integer distance bound so
        # the kernel can run Ukkonen-banded; +1 slack means the sentinel
        # can never hide a pair the exact keep-condition would accept
        if variant == "distance":
            kb = np.full(len(a), np.floor(score_cutoff))
        elif variant == "similarity":
            kb = np.floor(_mx() - score_cutoff)
        elif variant == "normalized_distance":
            kb = np.floor(_mx() * score_cutoff)
        else:
            kb = np.floor(_mx() * (1.0 - score_cutoff))
        k_bound = np.maximum(kb + 1, 0).astype(np.int64)
    h_bound = None
    if (
        score_hint is not None
        and metric == "levenshtein"
        and tuple(params.get("weights") or (1, 1, 1)) == (1, 1, 1)
        and len(a)
    ):
        # score_hint is the EXPECTED score in the variant's own space
        # (reference Args::score_hint) — translate it to a starting
        # distance band exactly like the cutoff; the kernel's verify +
        # band-doubling loop keeps results identical whatever the hint
        if variant == "distance":
            hb = np.full(len(a), np.floor(score_hint))
        elif variant == "similarity":
            hb = np.floor(_mx() - score_hint)
        elif variant == "normalized_distance":
            hb = np.floor(_mx() * score_hint)
        else:
            hb = np.floor(_mx() * (1.0 - score_hint))
        h_bound = np.maximum(hb + 1, 0).astype(np.int64)
    raw = _raw_distance(
        metric, a, b, k_bound=k_bound, h_bound=h_bound, **params
    ).astype(np.float64)
    invalid = raw < 0  # hamming pad=False length mismatch sentinel
    if variant == "distance":
        vals = raw
        keep = vals <= score_cutoff if score_cutoff is not None else None
    elif variant == "similarity":
        vals = _mx() - raw
        keep = vals >= score_cutoff if score_cutoff is not None else None
    else:
        maximum = _mx()
        with np.errstate(divide="ignore", invalid="ignore"):
            nd = np.where(maximum > 0, raw / np.where(maximum > 0, maximum, 1.0), 0.0)
        if variant == "normalized_distance":
            vals = nd
            keep = vals <= score_cutoff if score_cutoff is not None else None
        else:
            vals = 1.0 - nd
            keep = vals >= score_cutoff if score_cutoff is not None else None
    if invalid.any():
        keep = invalid.__invert__() if keep is None else (keep & ~invalid)
    return vals, keep


def _metric_fn(metric: str, variant: str):
    integral = metric in _INTEGRAL_METRICS and variant in ("distance", "similarity")
    ret_type = "long" if integral else "double"

    def fn(
        s1: ColumnOrName,
        s2: ColumnOrName,
        score_cutoff: Optional[float] = None,
        score_hint: Optional[float] = None,
        **params,
    ) -> Column:
        # score_hint: perf-only expected-score hint (reference
        # levenshtein.rs:1069-1088) — feeds the banded kernel's start
        # band + doubling verify loop; results are hint-independent
        @pandas_udf(ret_type)
        def _udf(c1: pd.Series, c2: pd.Series) -> pd.Series:
            null = c1.isna() | c2.isna()
            a = c1.fillna("").to_numpy(dtype=object)
            b = c2.fillna("").to_numpy(dtype=object)
            eff = params
            if metric == "hamming" and params.get("strict"):
                # strict raises on unequal lengths BETWEEN REAL VALUES
                # only: a null input is SQL null, not a length error (the
                # fillna("") above would otherwise fake a 0-vs-n pair)
                nn = (~null).to_numpy()
                eff = _hamming_strict_check(a[nn], b[nn], params)
            vals, keep = _score_block(
                metric, variant, a, b, score_cutoff, score_hint=score_hint, **eff
            )
            if integral:
                out = pd.Series(vals.astype(np.int64), dtype="Int64")
            else:
                out = pd.Series(vals, dtype="float64")
            drop = null.to_numpy()
            if keep is not None:
                drop = drop | ~keep
            out[drop] = None
            return out

        if score_cutoff is not None:
            # cutoff usage is always followed by an isNotNull filter
            # (Option semantics); a deterministic UDF referenced by both
            # the filter and the projection gets TWO ArrowEvalPython nodes
            # (Catalyst pushes the filter through the project and
            # duplicates the evaluation — locked in by tests/test_plans).
            # Nondeterministic blocks that split: one Arrow node, the
            # filter above it. Cheap prunes (length, equality) are hoisted
            # explicitly before scoring, so nothing useful loses pushdown.
            _udf = _udf.asNondeterministic()
        return _udf(s1, s2)

    fn.__name__ = f"{metric}_{variant}"
    fn.__doc__ = (
        f"{metric} {variant.replace('_', ' ')} as an Arrow-vectorized Column; "
        f"null where score_cutoff filters (reference Option semantics) or "
        f"either input is null."
    )
    return fn


# ---- generated surface: 8 metrics x 4 variants ---------------------------

levenshtein_distance = _metric_fn("levenshtein", "distance")
levenshtein_similarity = _metric_fn("levenshtein", "similarity")
levenshtein_normalized_distance = _metric_fn("levenshtein", "normalized_distance")
levenshtein_normalized_similarity = _metric_fn("levenshtein", "normalized_similarity")

indel_distance = _metric_fn("indel", "distance")
indel_similarity = _metric_fn("indel", "similarity")
indel_normalized_distance = _metric_fn("indel", "normalized_distance")
indel_normalized_similarity = _metric_fn("indel", "normalized_similarity")

lcs_seq_distance = _metric_fn("lcs_seq", "distance")
lcs_seq_similarity = _metric_fn("lcs_seq", "similarity")
lcs_seq_normalized_distance = _metric_fn("lcs_seq", "normalized_distance")
lcs_seq_normalized_similarity = _metric_fn("lcs_seq", "normalized_similarity")

osa_distance = _metric_fn("osa", "distance")
osa_similarity = _metric_fn("osa", "similarity")
osa_normalized_distance = _metric_fn("osa", "normalized_distance")
osa_normalized_similarity = _metric_fn("osa", "normalized_similarity")

damerau_levenshtein_distance = _metric_fn("damerau_levenshtein", "distance")
damerau_levenshtein_similarity = _metric_fn("damerau_levenshtein", "similarity")
damerau_levenshtein_normalized_distance = _metric_fn(
    "damerau_levenshtein", "normalized_distance"
)
damerau_levenshtein_normalized_similarity = _metric_fn(
    "damerau_levenshtein", "normalized_similarity"
)

hamming_distance = _metric_fn("hamming", "distance")
hamming_similarity = _metric_fn("hamming", "similarity")
hamming_normalized_distance = _metric_fn("hamming", "normalized_distance")
hamming_normalized_similarity = _metric_fn("hamming", "normalized_similarity")

prefix_distance = _metric_fn("prefix", "distance")
prefix_similarity = _metric_fn("prefix", "similarity")
prefix_normalized_distance = _metric_fn("prefix", "normalized_distance")
prefix_normalized_similarity = _metric_fn("prefix", "normalized_similarity")

postfix_distance = _metric_fn("postfix", "distance")
postfix_similarity = _metric_fn("postfix", "similarity")
postfix_normalized_distance = _metric_fn("postfix", "normalized_distance")
postfix_normalized_similarity = _metric_fn("postfix", "normalized_similarity")


# ---- jaro / jaro-winkler (similarity-primitive, maximum = 1.0) ------------


def _jaro_fn(winkler: bool, variant: str):
    def fn(
        s1: ColumnOrName,
        s2: ColumnOrName,
        score_cutoff: Optional[float] = None,
        score_hint: Optional[float] = None,
        prefix_weight: float = 0.1,
    ) -> Column:
        @pandas_udf("double")
        def _udf(c1: pd.Series, c2: pd.Series) -> pd.Series:
            null = c1.isna() | c2.isna()
            a = c1.fillna("").to_numpy(dtype=object)
            b = c2.fillna("").to_numpy(dtype=object)
            live = None
            # both pruning paths (the length upper bound's boost transform
            # and the in-kernel k translation) are only sound for the
            # standard prefix_weight range [0, 0.25] — the reference
            # accepts ANY f64 and computes exactly (jaro_winkler.rs:87-97),
            # so out-of-range weights skip pruning rather than mis-prune
            prune_ok = (not winkler) or (0.0 <= prefix_weight <= 0.25)
            if (
                score_cutoff is not None
                and variant.endswith("similarity")
                and len(a)
                and prune_ok
            ):
                # reference jaro length_filter (jaro.rs:122-131): common
                # chars m <= min(l1,l2) bounds sim above; winkler boost is
                # capped by prefix<=4. Skip pairs that cannot reach cutoff.
                la = np.fromiter((len(x) for x in a), np.float64, len(a))
                lb = np.fromiter((len(x) for x in b), np.float64, len(b))
                m = np.minimum(la, lb)
                with np.errstate(divide="ignore", invalid="ignore"):
                    ub = np.where(
                        m > 0, (m / np.maximum(la, 1) + m / np.maximum(lb, 1) + 1) / 3,
                        np.where((la == 0) & (lb == 0), 1.0, 0.0),
                    )
                if winkler:
                    ub = ub + 4 * prefix_weight * (1.0 - ub)
                live = ub >= score_cutoff
                if not live.all():
                    sim = np.zeros(len(a), dtype=np.float64)
                    if live.any():
                        sim[live] = (
                            B.jaro_winkler_batch(
                                a[live], b[live], prefix_weight, k=score_cutoff
                            )
                            if winkler
                            else B.jaro_batch(a[live], b[live], k=score_cutoff)
                        )
                else:
                    live = None
            if live is None:
                # in-kernel early exit: similarity cutoff passes through;
                # a distance cutoff d keeps sim >= 1-d. Dropped pairs
                # return the -1.0 sentinel, which every keep-comparison
                # below rejects (sim -1 < cutoff; dist 2 > cutoff).
                ik = None
                if score_cutoff is not None and len(a) and prune_ok:
                    ik = (
                        score_cutoff
                        if variant.endswith("similarity")
                        else 1.0 - score_cutoff
                    )
                if winkler:
                    sim = B.jaro_winkler_batch(a, b, prefix_weight, k=ik)
                else:
                    sim = B.jaro_batch(a, b, k=ik)
            vals = sim if variant.endswith("similarity") else 1.0 - sim
            if score_cutoff is None:
                keep = None
            elif variant.endswith("similarity"):
                keep = vals >= score_cutoff
            else:
                keep = vals <= score_cutoff
            out = pd.Series(vals, dtype="float64")
            drop = null.to_numpy()
            if keep is not None:
                drop = drop | ~keep
            out[drop] = None
            return out

        if score_cutoff is not None:
            # cutoff usage is always followed by an isNotNull filter
            # (Option semantics); a deterministic UDF referenced by both
            # the filter and the projection gets TWO ArrowEvalPython nodes
            # (Catalyst pushes the filter through the project and
            # duplicates the evaluation — locked in by tests/test_plans).
            # Nondeterministic blocks that split: one Arrow node, the
            # filter above it. Cheap prunes (length, equality) are hoisted
            # explicitly before scoring, so nothing useful loses pushdown.
            _udf = _udf.asNondeterministic()
        return _udf(s1, s2)

    name = ("jaro_winkler_" if winkler else "jaro_") + variant
    fn.__name__ = name
    return fn


jaro_similarity = _jaro_fn(False, "similarity")
jaro_distance = _jaro_fn(False, "distance")
jaro_normalized_similarity = _jaro_fn(False, "normalized_similarity")
jaro_normalized_distance = _jaro_fn(False, "normalized_distance")
jaro_winkler_similarity = _jaro_fn(True, "similarity")
jaro_winkler_distance = _jaro_fn(True, "distance")
jaro_winkler_normalized_similarity = _jaro_fn(True, "normalized_similarity")
jaro_winkler_normalized_distance = _jaro_fn(True, "normalized_distance")


def ratio(
    s1: ColumnOrName, s2: ColumnOrName, score_cutoff: Optional[float] = None
) -> Column:
    """fuzz::ratio (reference src/fuzz.rs:48-86) = indel normalized
    similarity in [0, 1]; null under cutoff."""
    return indel_normalized_similarity(s1, s2, score_cutoff=score_cutoff)


# ---- arbitrary hashable-element sequences (array<int>/array<long>) --------
#
# The reference is generic over HashableChar — element identity IS its hash
# (src/lib.rs:102-121), so any injective remap preserves every metric.
# Arrays of ints are remapped per Arrow batch to a dense codepoint
# alphabet and scored by the same string batch engine (latin-1 fast path
# when the vocabulary fits in 255 symbols).


class _VocabOverflow(Exception):
    """Batch vocabulary exceeds the utf-32 code space (see _seqs_to_strings)."""


def _clean_seq(s):
    """Row value -> int64 ndarray, or None when the row itself should be
    SQL null: a null element inside the array has no element identity
    (np.asarray would either raise TypeError on object arrays or silently
    cast NaN to an arbitrary int64 and score garbage)."""
    if s is None:
        return None
    arr = np.asarray(s)
    if arr.dtype == object:
        # vectorized null-element scan (pd.isna handles None and NaN in
        # one pass — no per-element Python loop)
        if len(arr) and pd.isna(arr).any():
            return None
        return arr.astype(np.int64)
    if np.issubdtype(arr.dtype, np.floating):
        if np.isnan(arr).any():
            return None
        return arr.astype(np.int64)
    return arr.astype(np.int64)


def _seqs_to_strings(seqs1: list, seqs2: list):
    """Batch-vectorized injective remap of int sequences to strings: one
    np.unique over the concatenated batch builds the dense vocabulary,
    one utf-32 decode materializes the whole blob, and per-row slicing
    yields the strings (no per-element Python loop). Any injective remap
    preserves every metric — element identity is the only thing the
    kernels read (reference HashableChar, src/lib.rs:102-121).

    Raises _VocabOverflow when the batch's combined vocabulary does not
    fit the utf-32 code space (> ~1.11M distinct elements); the caller
    splits the batch and retries — the vocabulary is per-batch, so
    halving converges (a single pair's vocabulary is its length sum)."""
    seqs = seqs1 + seqs2
    lens = np.fromiter((len(s) for s in seqs), dtype=np.int64, count=len(seqs))
    offs = np.zeros(len(seqs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    allv = np.concatenate(seqs) if seqs else np.zeros(0, dtype=np.int64)
    uniq, inv = np.unique(allv, return_inverse=True)
    if len(uniq) + 1 + 0x800 > 0x10FFFF:
        raise _VocabOverflow(f"{len(uniq)} distinct elements in batch")
    codes = inv.astype(np.uint32) + np.uint32(1)
    codes = np.where(codes >= 0xD800, codes + np.uint32(0x800), codes)
    blob = codes.astype("<u4").tobytes().decode("utf-32-le")
    strs = [blob[offs[i] : offs[i + 1]] for i in range(len(seqs))]
    half = len(seqs1)
    return (
        np.array(strs[:half], dtype=object),
        np.array(strs[half:], dtype=object),
    )


def _score_seq_block(
    metric: str, variant: str, seqs1: list, seqs2: list, score_cutoff, **params
):
    """Score int-sequence pairs via the string batch engine, splitting the
    batch recursively when its combined vocabulary overflows the utf-32
    remap space."""
    try:
        a, b = _seqs_to_strings(seqs1, seqs2)
    except _VocabOverflow:
        n = len(seqs1)
        if n <= 1:
            raise  # a single >1.1M-distinct-element pair: out of scope
        h = n // 2
        v1, k1 = _score_seq_block(
            metric, variant, seqs1[:h], seqs2[:h], score_cutoff, **params
        )
        v2, k2 = _score_seq_block(
            metric, variant, seqs1[h:], seqs2[h:], score_cutoff, **params
        )
        vals = np.concatenate([v1, v2])
        if k1 is None and k2 is None:
            return vals, None
        k1 = np.ones(h, dtype=bool) if k1 is None else k1
        k2 = np.ones(n - h, dtype=bool) if k2 is None else k2
        return vals, np.concatenate([k1, k2])
    return _score_block(metric, variant, a, b, score_cutoff, **params)


def _seq_metric_fn(metric: str, variant: str):
    integral = metric in _INTEGRAL_METRICS and variant in ("distance", "similarity")
    ret_type = "long" if integral else "double"

    def fn(
        s1: ColumnOrName,
        s2: ColumnOrName,
        score_cutoff: Optional[float] = None,
        score_hint: Optional[float] = None,
        **params,
    ) -> Column:
        @pandas_udf(ret_type)
        def _udf(c1: pd.Series, c2: pd.Series) -> pd.Series:
            seqs1 = [_clean_seq(s) for s in c1]
            seqs2 = [_clean_seq(s) for s in c2]
            # row is null when the column value is null OR an element
            # inside the array is null/NaN (no element identity)
            null = pd.Series(
                [x is None or y is None for x, y in zip(seqs1, seqs2)],
                index=c1.index,
            )
            empty = np.zeros(0, dtype=np.int64)
            seqs1 = [empty if s is None else s for s in seqs1]
            seqs2 = [empty if s is None else s for s in seqs2]
            eff = params
            if metric == "hamming" and params.get("strict"):
                # mirror of the string path: a null array (or an array
                # with a null element) is SQL null, not a length error;
                # the empty placeholder substituted above must not trip
                # DifferentLengthArgs for the whole batch
                nn = ~null.to_numpy()
                eff = _hamming_strict_check(
                    (s for s, m in zip(seqs1, nn) if m),
                    (s for s, m in zip(seqs2, nn) if m),
                    params,
                )
            vals, keep = _score_seq_block(
                metric, variant, seqs1, seqs2, score_cutoff, **eff
            )
            out = (
                pd.Series(vals.astype(np.int64), dtype="Int64")
                if integral
                else pd.Series(vals, dtype="float64")
            )
            drop = null.to_numpy()
            if keep is not None:
                drop = drop | ~keep
            out[drop] = None
            return out

        if score_cutoff is not None:
            # cutoff usage is always followed by an isNotNull filter
            # (Option semantics); a deterministic UDF referenced by both
            # the filter and the projection gets TWO ArrowEvalPython nodes
            # (Catalyst pushes the filter through the project and
            # duplicates the evaluation — locked in by tests/test_plans).
            # Nondeterministic blocks that split: one Arrow node, the
            # filter above it. Cheap prunes (length, equality) are hoisted
            # explicitly before scoring, so nothing useful loses pushdown.
            _udf = _udf.asNondeterministic()
        return _udf(s1, s2)

    fn.__name__ = f"{metric}_{variant}_seq"
    fn.__doc__ = (
        f"{metric} {variant.replace('_', ' ')} over array<int>/array<long> "
        f"columns (HashableChar parity: elements compared by identity)."
    )
    return fn


levenshtein_distance_seq = _seq_metric_fn("levenshtein", "distance")
levenshtein_normalized_similarity_seq = _seq_metric_fn(
    "levenshtein", "normalized_similarity"
)
indel_distance_seq = _seq_metric_fn("indel", "distance")
lcs_seq_similarity_seq = _seq_metric_fn("lcs_seq", "similarity")
hamming_distance_seq = _seq_metric_fn("hamming", "distance")
damerau_levenshtein_distance_seq = _seq_metric_fn("damerau_levenshtein", "distance")
osa_distance_seq = _seq_metric_fn("osa", "distance")


def token_sort_key(col: ColumnOrName) -> Column:
    """Canonical token-sorted key (lowercase, non-alnum -> space, tokens
    sorted) — pure Spark built-ins, used for blocking and exact-dup checks."""
    c = F.regexp_replace(F.lower(col), r"[^\p{L}\p{N}]+", " ")
    return F.array_join(F.array_sort(F.split(F.trim(c), r"\s+")), " ")


def _token_set(col: ColumnOrName) -> Column:
    """Sorted distinct token array under token_sort_key's normalization
    (lowercase, non-alnum -> space), empty tokens dropped."""
    c = F.regexp_replace(F.lower(col), r"[^\p{L}\p{N}]+", " ")
    return F.array_sort(
        F.array_distinct(
            F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != F.lit(""))
        )
    )


def token_set_ratio(
    s1: ColumnOrName, s2: ColumnOrName, cap: Optional[int] = None
) -> Column:
    """fuzz.token_set_ratio (the rapidfuzz-family set extension of the
    reference's fuzz::ratio, src/fuzz.rs:48-86): build the sorted
    intersection string t0 and the two "intersection + own leftovers"
    strings, return the max of the three pairwise indel ratios. Word
    order AND duplicate/extra words stop mattering: a strict superset
    of tokens scores 1.0 against t0.

    Pure Column composition: the set algebra is JVM built-ins
    (array_intersect / array_except on the normalized distinct token
    arrays), the three ratios run through the same Arrow-batched indel
    kernel as fuzz.ratio, combined with greatest(). ``cap`` truncates
    each constructed string first (the driver query uses it so the
    SQL oracle's recursive-CTE LCS replay stays bounded; capping
    preserves the t0-is-a-prefix property the oracle's closed forms
    rely on). NULL when either input is NULL, as ``ratio()``."""
    a1, a2 = _token_set(s1), _token_set(s2)
    inter = F.array_sort(F.array_intersect(a1, a2))
    d1 = F.array_sort(F.array_except(a1, a2))
    d2 = F.array_sort(F.array_except(a2, a1))
    t0 = F.array_join(inter, " ")
    c1 = F.trim(F.concat_ws(" ", t0, F.array_join(d1, " ")))
    c2 = F.trim(F.concat_ws(" ", t0, F.array_join(d2, " ")))
    if cap is not None:
        t0 = F.substring(t0, 1, cap)
        c1 = F.substring(c1, 1, cap)
        c2 = F.substring(c2, 1, cap)
    # concat_ws turns NULL parts into "" and greatest() skips NULL
    # operands, so without the guard a NULL input scores ratio("", "") = 1.0
    return F.when(
        F.isnotnull(s1) & F.isnotnull(s2),
        F.greatest(ratio(t0, c1), ratio(t0, c2), ratio(c1, c2)),
    )
