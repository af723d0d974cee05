"""Spark Column API: Arrow-vectorized pandas UDFs over the batch kernels.

The distributed counterpart of ``rapidfuzz_spark.api`` — every function
takes two Columns and returns a Column, scoring whole Arrow batches
through the NumPy/Python batch engine (kernels/batch.py). No per-row Python
dispatch (driver ``input_hint``: pandas/Arrow UDFs only).

One wrapper (``_column_fn``) builds all of them: the edit metrics and
Jaro(-Winkler) over string columns, and the ``_seq`` functions over
``array<int>``/``array<long>`` columns. Only its decode step differs: a
string batch is one chunk of pairs, an array batch is remapped to
strings in vocabulary-sized chunks. Each chunk then takes the same path
(``_score_block``), the reference's generic result layer
(details/distance.rs:154-385): every kernel returns a raw score, the edit
distance or the Jaro similarity; one transform turns it into the
variant's score, one table turns a variant score back into a raw bound
for ``score_cutoff`` and ``score_hint``, and one keep test applies the
cutoff (``<=`` for distances, ``>=`` for similarities) — first to each
pair's best score reachable from its lengths alone, so pairs that
cannot pass skip the kernel, then to the exact score.

Cutoff semantics (reference src/common.rs:33-86): with a
``score_cutoff`` the result column is nullable — null where the score is
filtered, so a downstream ``WHERE score IS NOT NULL`` is the Catalyst
analogue of the reference's ``Option``. A NULL input (or a NULL array
element) gives NULL. A keyword argument the metric does not take is a
``TypeError``, as in the scalar API.

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

# keyword arguments a metric takes besides score_cutoff / score_hint
_PARAMS = {
    "levenshtein": ("weights",),
    "hamming": ("pad", "strict"),
    "jaro_winkler": ("prefix_weight",),
}


def _weights(params: dict) -> tuple:
    return tuple(params.get("weights") or (1, 1, 1))


def _lengths(a) -> np.ndarray:
    return np.fromiter((len(x) for x in a), np.int64, len(a))


def _raw(metric: str, a, b, k, hint, params: dict) -> np.ndarray:
    """Raw score per pair: the edit distance, or the Jaro(-Winkler)
    similarity. ``k``/``hint`` are the raw scores at the cutoff/hint
    (``_raw_at``) or None. The Jaro kernels take the similarity as is;
    the bounded edit kernels take an integer distance bound per pair."""
    if metric == "jaro":
        return B.jaro_batch(a, b, k=k)
    if metric == "jaro_winkler":
        return B.jaro_winkler_batch(a, b, params.get("prefix_weight", 0.1), k=k)

    def bound(x):
        # +1 slack: the kernels' over-bound sentinel can never hide a pair
        # the exact keep test would accept
        if x is None:
            return None
        return np.broadcast_to(np.maximum(np.floor(x) + 1, 0), len(a)).astype(np.int64)

    k, hint = bound(k), bound(hint)
    if metric == "levenshtein":
        w = _weights(params)
        if w == (1, 1, 1):
            return B.levenshtein_batch(a, b, k=k, hint=hint)
        return B.weighted_levenshtein_batch(a, b, w)
    if metric == "damerau_levenshtein":
        return B.damerau_batch(a, b, k=k)
    if metric == "indel":
        return B.indel_batch(a, b, k=k)
    if metric == "osa":
        return B.osa_batch(a, b)
    if metric == "lcs_seq" and k is not None:
        # lcs_dist = (indel + |dlen|) / 2, so a bound k on lcs_dist is a
        # bound 2k - |dlen| on indel; map the indel sentinel back to k+1
        # explicitly (integer division of the sentinel would round DOWN
        # to k and un-prune a pair)
        dlen = np.abs(_lengths(a) - _lengths(b))
        k_indel = 2 * k - dlen
        d = B.indel_batch(a, b, k=np.maximum(k_indel, 0))
        return np.where(d > k_indel, k + 1, (d + dlen) // 2)
    if metric == "hamming":
        # -1 on unequal lengths without pad: the caller's null
        return B.hamming_batch(a, b, pad=params.get("pad", False))
    common = {
        "lcs_seq": B.lcs_similarity_batch,
        "prefix": B.prefix_batch,
        "postfix": B.postfix_batch,
    }[metric](a, b)
    return B.maximum_batch(metric, a, b) - common


def _best_raw(metric: str, a, b, params: dict) -> np.ndarray:
    """Each pair's best raw score reachable from its lengths alone: a
    lower bound on the edit distance, |len1-len2| weighted by the
    insertion/deletion cost (reference levenshtein.rs:1045-1047), or an
    upper bound on the Jaro similarity, common chars m <= min(l1, l2)
    (jaro.rs:122-131), raised by the Winkler boost at a full 4-char
    prefix."""
    la, lb = _lengths(a), _lengths(b)
    if metric in ("jaro", "jaro_winkler"):
        m = np.minimum(la, lb)
        ub = np.where(
            m > 0,
            (m / np.maximum(la, 1) + m / np.maximum(lb, 1) + 1) / 3,
            np.where((la == 0) & (lb == 0), 1.0, 0.0),
        )
        if metric == "jaro_winkler":
            ub = ub + 4 * params.get("prefix_weight", 0.1) * (1.0 - ub)
        return ub
    ins, dele, _ = _weights(params)
    return np.where(la > lb, (la - lb) * dele, (lb - la) * ins).astype(np.float64)


# The raw score is in its metric's own frame: a distance for the edit
# metrics, a similarity (maximum 1.0) for Jaro. A variant of that frame
# reads the raw score as is; the opposite one goes through the maximum.
# Jaro stays in its similarity frame: routing it through a distance
# would compute 1 - (1 - sim), an ulp off for similarities below 0.5.


def _to_variant(variant: str, frame: str, raw, mx):
    """Raw score -> the variant's score."""
    if variant == frame:
        return raw
    if not variant.startswith("normalized"):
        return mx - raw
    with np.errstate(divide="ignore", invalid="ignore"):
        nr = np.where(mx > 0, raw / np.where(mx > 0, mx, 1.0), 0.0)
    return nr if variant.endswith(frame) else 1.0 - nr


def _raw_at(variant: str, frame: str, score: float, mx):
    """The variant's score -> the raw score it corresponds to (the
    inverse of ``_to_variant``): the kernel bound for a cutoff or hint."""
    if variant == frame:
        return score
    if not variant.startswith("normalized"):
        return mx - score
    return mx * score if variant.endswith(frame) else mx * (1.0 - score)


def _keeps(variant: str, vals, score_cutoff: float) -> np.ndarray:
    if variant.endswith("distance"):
        return vals <= score_cutoff
    return vals >= score_cutoff


def _take(x, rows):
    return x[rows] if np.ndim(x) else x


def _score_block(
    metric: str,
    variant: str,
    a: np.ndarray,
    b: np.ndarray,
    score_cutoff=None,
    score_hint=None,
    **params,
):
    """Score one chunk of pairs -> (values as float64, keep mask)."""
    n = len(a)
    frame = "similarity" if metric in ("jaro", "jaro_winkler") else "distance"
    if frame == "similarity":
        mx = 1.0
    elif variant == "distance":
        mx = None  # never read: the maximum is an O(n) Python len() pass
    else:
        mx = B.maximum_batch(metric, a, b, _weights(params)).astype(np.float64)
    # the Jaro-Winkler bounds are sound only for the standard prefix_weight
    # range [0, 0.25]; the reference accepts ANY f64 and computes exactly
    # (jaro_winkler.rs:87-97), so other weights skip pruning
    prune = score_cutoff is not None and n and (
        metric != "jaro_winkler" or 0.0 <= params.get("prefix_weight", 0.1) <= 0.25
    )
    live = slice(None)
    k = hint = None
    if prune:
        best = _to_variant(variant, frame, _best_raw(metric, a, b, params), mx)
        ok = _keeps(variant, best, score_cutoff)
        if not ok.all():
            live = ok
        k = _raw_at(variant, frame, score_cutoff, mx)
    if score_hint is not None and n:
        hint = _raw_at(variant, frame, score_hint, mx)
    raw = _raw(
        metric, a[live], b[live], _take(k, live), _take(hint, live), params
    ).astype(np.float64)
    vals = np.zeros(n, dtype=np.float64)
    keep = np.zeros(n, dtype=bool)
    vals[live] = _to_variant(variant, frame, raw, _take(mx, live))
    keep[live] = raw >= 0  # hamming's unequal-length sentinel
    if score_cutoff is not None:
        keep &= _keeps(variant, vals, score_cutoff)
    return vals, keep


def _hamming_strict_check(chunks: list, real: np.ndarray) -> None:
    """Strict hamming: raise ``DifferentLengthArgs`` when any REAL row
    pair has unequal lengths (reference parity: hamming.rs:232-235 is an
    Err). A null input is SQL null, not a length error, and the check
    runs before any cutoff prefilter, so whether it fires cannot depend
    on the cutoff value."""
    la = np.fromiter((len(x) for a, _ in chunks for x in a), np.int64)
    lb = np.fromiter((len(x) for _, b in chunks for x in b), np.int64)
    bad = np.nonzero((la != lb) & real)[0]
    if len(bad):
        from .kernels.hamming import DifferentLengthArgs

        i = bad[0]
        raise DifferentLengthArgs(f"hamming strict: unequal lengths {la[i]} != {lb[i]}")


def _decode_strings(c1: pd.Series, c2: pd.Series):
    """-> (null mask, one chunk of (a, b) object arrays)."""
    null = (c1.isna() | c2.isna()).to_numpy()
    a = c1.fillna("").to_numpy(dtype=object)
    b = c2.fillna("").to_numpy(dtype=object)
    return null, [(a, b)]


def _decode_seqs(c1: pd.Series, c2: pd.Series):
    """-> (null mask, (a, b) chunks): a row is null when the column value
    is null OR an element inside the array is null/NaN (no element
    identity)."""
    seqs1 = [_clean_seq(s) for s in c1]
    seqs2 = [_clean_seq(s) for s in c2]
    null = np.fromiter(
        (x is None or y is None for x, y in zip(seqs1, seqs2)), bool, len(seqs1)
    )
    empty = np.zeros(0, dtype=np.int64)
    seqs1 = [empty if s is None else s for s in seqs1]
    seqs2 = [empty if s is None else s for s in seqs2]
    return null, _seq_chunks(seqs1, seqs2)


def _column_fn(metric: str, variant: str, seq: bool = False):
    name = f"{metric}_{variant}" + ("_seq" if seq else "")
    integral = metric not in ("jaro", "jaro_winkler") and not variant.startswith(
        "normalized"
    )
    decode = _decode_seqs if seq else _decode_strings

    def fn(
        s1: ColumnOrName,
        s2: ColumnOrName,
        score_cutoff: Optional[float] = None,
        score_hint: Optional[float] = None,
        **params,
    ) -> Column:
        unknown = sorted(set(params) - set(_PARAMS.get(metric, ())))
        if unknown:
            raise TypeError(
                f"{name}() got an unexpected keyword argument {unknown[0]!r}"
            )

        # score_hint: perf-only expected-score hint (reference
        # levenshtein.rs:1069-1088) — feeds the banded kernel's start
        # band + doubling verify loop; results are hint-independent
        @pandas_udf("long" if integral else "double")
        def _udf(c1: pd.Series, c2: pd.Series) -> pd.Series:
            null, chunks = decode(c1, c2)
            if params.get("strict"):
                _hamming_strict_check(chunks, ~null)
            parts = [
                _score_block(metric, variant, a, b, score_cutoff, score_hint, **params)
                for a, b in chunks
            ]
            vals = np.concatenate([v for v, _ in parts])
            keep = np.concatenate([k for _, k in parts])
            if integral:
                out = pd.Series(vals.astype(np.int64), dtype="Int64")
            else:
                out = pd.Series(vals, dtype="float64")
            out[null | ~keep] = None
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

    fn.__name__ = fn.__qualname__ = name
    fn.__doc__ = (
        f"{metric} {variant.replace('_', ' ')} as an Arrow-vectorized Column"
        + (
            " over array<int>/array<long> columns (HashableChar parity: "
            "elements compared by identity)"
            if seq
            else ""
        )
        + "; null where score_cutoff filters (reference Option semantics) "
        "or either input is null."
    )
    return fn


# ---- generated surface: 8 edit metrics + 2 Jaro metrics x 4 variants ------

levenshtein_distance = _column_fn("levenshtein", "distance")
levenshtein_similarity = _column_fn("levenshtein", "similarity")
levenshtein_normalized_distance = _column_fn("levenshtein", "normalized_distance")
levenshtein_normalized_similarity = _column_fn("levenshtein", "normalized_similarity")

indel_distance = _column_fn("indel", "distance")
indel_similarity = _column_fn("indel", "similarity")
indel_normalized_distance = _column_fn("indel", "normalized_distance")
indel_normalized_similarity = _column_fn("indel", "normalized_similarity")

lcs_seq_distance = _column_fn("lcs_seq", "distance")
lcs_seq_similarity = _column_fn("lcs_seq", "similarity")
lcs_seq_normalized_distance = _column_fn("lcs_seq", "normalized_distance")
lcs_seq_normalized_similarity = _column_fn("lcs_seq", "normalized_similarity")

osa_distance = _column_fn("osa", "distance")
osa_similarity = _column_fn("osa", "similarity")
osa_normalized_distance = _column_fn("osa", "normalized_distance")
osa_normalized_similarity = _column_fn("osa", "normalized_similarity")

damerau_levenshtein_distance = _column_fn("damerau_levenshtein", "distance")
damerau_levenshtein_similarity = _column_fn("damerau_levenshtein", "similarity")
damerau_levenshtein_normalized_distance = _column_fn(
    "damerau_levenshtein", "normalized_distance"
)
damerau_levenshtein_normalized_similarity = _column_fn(
    "damerau_levenshtein", "normalized_similarity"
)

hamming_distance = _column_fn("hamming", "distance")
hamming_similarity = _column_fn("hamming", "similarity")
hamming_normalized_distance = _column_fn("hamming", "normalized_distance")
hamming_normalized_similarity = _column_fn("hamming", "normalized_similarity")

prefix_distance = _column_fn("prefix", "distance")
prefix_similarity = _column_fn("prefix", "similarity")
prefix_normalized_distance = _column_fn("prefix", "normalized_distance")
prefix_normalized_similarity = _column_fn("prefix", "normalized_similarity")

postfix_distance = _column_fn("postfix", "distance")
postfix_similarity = _column_fn("postfix", "similarity")
postfix_normalized_distance = _column_fn("postfix", "normalized_distance")
postfix_normalized_similarity = _column_fn("postfix", "normalized_similarity")

jaro_similarity = _column_fn("jaro", "similarity")
jaro_distance = _column_fn("jaro", "distance")
jaro_normalized_similarity = _column_fn("jaro", "normalized_similarity")
jaro_normalized_distance = _column_fn("jaro", "normalized_distance")

jaro_winkler_similarity = _column_fn("jaro_winkler", "similarity")
jaro_winkler_distance = _column_fn("jaro_winkler", "distance")
jaro_winkler_normalized_similarity = _column_fn("jaro_winkler", "normalized_similarity")
jaro_winkler_normalized_distance = _column_fn("jaro_winkler", "normalized_distance")


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
    fit the utf-32 code space (> ~1.11M distinct elements)."""
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


def _seq_chunks(seqs1: list, seqs2: list) -> list:
    """Remap int-sequence pairs to (a, b) string chunks, in row order.
    A chunk whose combined vocabulary overflows the utf-32 remap space
    is halved and retried — the vocabulary is per chunk, so halving
    converges (a single pair's vocabulary is its length sum)."""
    chunks, todo = [], [(0, len(seqs1))]
    while todo:
        lo, hi = todo.pop()
        try:
            chunks.append(_seqs_to_strings(seqs1[lo:hi], seqs2[lo:hi]))
        except _VocabOverflow:
            if hi - lo <= 1:
                raise  # a single >1.1M-distinct-element pair: out of scope
            mid = (lo + hi) // 2
            todo += [(mid, hi), (lo, mid)]
    return chunks


levenshtein_distance_seq = _column_fn("levenshtein", "distance", seq=True)
levenshtein_normalized_similarity_seq = _column_fn(
    "levenshtein", "normalized_similarity", seq=True
)
indel_distance_seq = _column_fn("indel", "distance", seq=True)
lcs_seq_similarity_seq = _column_fn("lcs_seq", "similarity", seq=True)
hamming_distance_seq = _column_fn("hamming", "distance", seq=True)
damerau_levenshtein_distance_seq = _column_fn(
    "damerau_levenshtein", "distance", seq=True
)
osa_distance_seq = _column_fn("osa", "distance", seq=True)


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
