"""Soft TF-IDF record-linkage scorer (Cohen, Ravikumar & Fienberg 2003,
"A Comparison of String Distance Metrics for Name-Matching Tasks").

score(A, B) = sum over tokens a in A that have a fuzzy match in B of
    V(a, A) * V(b*, B) * sim(a, b*)
where V are L2-normalized IDF weights, b* is a's best match in B, and
sim is the reference-parity indel ratio gated at ``inner_threshold``.
Rare discriminative tokens (high IDF) dominate shared boilerplate (low
IDF), which is exactly what separates same-name-different-record pairs
from true duplicates — the failure mode of unweighted whole-string
ratios at corpus scale.

Distributed shape: IDF weights are attached to DOC tokens once (one
exploded join against the token census — O(docs), not O(pairs)); the
pair scorer is an Arrow-batched UDF whose inner token-vs-token ratios
are flattened into ONE call of the vectorized indel batch kernel per
Arrow batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels import batch as B

_EMPTY_O = np.empty(0, dtype=object)


def idf_table(docs: DataFrame, text_col: str = "norm_text") -> DataFrame:
    """(tok, idf): smoothed IDF over distinct doc-tokens,
    idf = ln(1 + N/df). Output is |vocabulary|-sized — broadcastable."""
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(text_col, r"\s+"))).alias("tok")
    ).where(F.length("tok") > 0)
    n_docs = docs.count()
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .select("tok", F.log(F.lit(1.0) + F.lit(float(n_docs)) / F.col("df")).alias("idf"))
    )


def attach_token_idf(
    docs: DataFrame, idf: DataFrame, text_col: str = "norm_text"
) -> DataFrame:
    """Adds ``toks: array<string>`` and ``idfs: array<double>`` (aligned)
    to each doc: explode -> broadcast-join IDF -> collect back sorted by
    position. One shuffle over docs."""
    exploded = docs.select(
        "doc_id",
        F.posexplode(F.array_distinct(F.split(text_col, r"\s+"))).alias("pos", "tok"),
    ).where(F.length("tok") > 0)
    joined = exploded.join(F.broadcast(idf), "tok", "left").withColumn(
        "idf", F.coalesce("idf", F.lit(0.0))
    )
    packed = joined.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "tok", "idf"))).alias("z")
    ).select(
        "doc_id",
        F.expr("transform(z, s -> s.tok)").alias("toks"),
        F.expr("transform(z, s -> s.idf)").alias("idfs"),
    )
    return docs.join(packed, "doc_id", "left")


# Peak cross-product entries materialized per inner group: bounds the
# index/sim scratch arrays to ~CAP * ~56 bytes (< 120 MB) regardless of
# document length, so 1k-token documents (10^6 entries per pair) process
# one-or-few pairs at a time instead of blowing up the whole Arrow batch.
_XPROD_CAP = 1 << 21


def soft_tfidf_similarity(
    toks1, idfs1, toks2, idfs2, inner_threshold: float = 0.7
) -> Column:
    """Column: Soft TF-IDF similarity in [0, 1] between two token arrays
    with aligned IDF arrays. Symmetrized as max(s(A->B), s(B->A)).

    The inner token-vs-token cross product is (a) grouped so at most
    ``_XPROD_CAP`` entries are materialized at once (long-document
    safety — memory stays bounded at any token count) and (b) pruned
    EXACTLY by the indel length-difference bound before the kernel call:
    ratio(a, b) <= 1 - |la-lb|/(la+lb), so any token pair with
    |la-lb| > (1-t)(la+lb) scores below ``inner_threshold`` and is gated
    to 0 without running the DP (the same prune score_pairs hoists to
    pair level, applied per token pair; reference levenshtein.rs:1045-1047
    is the distance-form of the bound)."""

    @pandas_udf("double")
    def _udf(
        c1: pd.Series, w1: pd.Series, c2: pd.Series, w2: pd.Series
    ) -> pd.Series:
        n = len(c1)
        out = np.zeros(n, dtype=np.float64)
        a_arrs = [
            np.asarray(x, dtype=object) if x is not None else _EMPTY_O for x in c1
        ]
        b_arrs = [
            np.asarray(x, dtype=object) if x is not None else _EMPTY_O for x in c2
        ]
        na_all = np.fromiter((len(x) for x in a_arrs), np.int64, n)
        nb_all = np.fromiter((len(x) for x in b_arrs), np.int64, n)
        valid = np.nonzero((na_all > 0) & (nb_all > 0))[0]
        if len(valid) == 0:
            return pd.Series(out)

        def score_rows(rows: np.ndarray) -> np.ndarray:
            """Vectorized Soft TF-IDF over a group of pair rows whose
            combined cross product fits the scratch cap."""
            # --- flatten the group: token pools + L2-normalized weights
            A = np.concatenate([a_arrs[i] for i in rows])
            Bt = np.concatenate([b_arrs[i] for i in rows])
            WA = np.concatenate(
                [np.asarray(w1.iloc[i], dtype=np.float64) for i in rows]
            )
            WB = np.concatenate(
                [np.asarray(w2.iloc[i], dtype=np.float64) for i in rows]
            )
            na = na_all[rows]
            nb = nb_all[rows]
            aoffs = np.zeros(len(rows) + 1, np.int64)
            np.cumsum(na, out=aoffs[1:])
            boffs = np.zeros(len(rows) + 1, np.int64)
            np.cumsum(nb, out=boffs[1:])
            norm_a = np.sqrt(np.add.reduceat(WA * WA, aoffs[:-1]))
            norm_b = np.sqrt(np.add.reduceat(WB * WB, boffs[:-1]))
            WA = WA / np.maximum(np.repeat(norm_a, na), 1e-300)
            WB = WB / np.maximum(np.repeat(norm_b, nb), 1e-300)
            # --- row-major cross-product index arithmetic (no Python
            # loops): segment of row r spans na[r]*nb[r] entries; within
            # it position p maps to a-token p // nb[r], b-token p % nb[r]
            seg = na * nb
            soffs = np.zeros(len(rows) + 1, np.int64)
            np.cumsum(seg, out=soffs[1:])
            M = int(soffs[-1])
            p = np.arange(M, dtype=np.int64) - np.repeat(soffs[:-1], seg)
            nb_row = np.repeat(nb, seg)
            a_idx = np.repeat(aoffs[:-1], seg) + p // nb_row
            b_idx = np.repeat(boffs[:-1], seg) + p % nb_row
            # --- dedup to UNIQUE token pairs before the DP kernel: the
            # same (a, b) token pair recurs across many doc pairs of the
            # batch (Zipf name distributions), and the kernel is
            # deterministic per pair, so scoring each unique pair once
            # and scattering back is bit-identical to scoring every
            # cross-product entry. Tokens are id-encoded first so the
            # pair key is int64 arithmetic, not string concatenation.
            pool = np.concatenate([A, Bt])
            uniq_toks, tok_inv = np.unique(pool, return_inverse=True)
            ida = tok_inv[: len(A)]
            idb = tok_inv[len(A):]
            n_uniq = np.int64(len(uniq_toks))
            ukey, inv = np.unique(
                ida[a_idx] * n_uniq + idb[b_idx], return_inverse=True
            )
            ua = ukey // n_uniq
            ub = ukey % n_uniq
            tok_len = np.fromiter(
                (len(x) for x in uniq_toks), np.float64, len(uniq_toks)
            )
            la_u = tok_len[ua]
            lb_u = tok_len[ub]
            denom_u = np.maximum(la_u + lb_u, 1.0)
            # exact length-difference prune (per unique pair now), and
            # equal tokens are sim 1.0 by definition — no DP either way
            eq = ua == ub
            keep = (~eq) & (
                np.abs(la_u - lb_u) <= (1.0 - inner_threshold) * denom_u
            )
            usims = np.zeros(len(ukey), dtype=np.float64)
            usims[eq] = 1.0
            if keep.any():
                usims[keep] = 1.0 - B.indel_batch(
                    uniq_toks[ua[keep]], uniq_toks[ub[keep]]
                ) / denom_u[keep]
            sims = usims[inv]
            gated = np.where(sims >= inner_threshold, sims, 0.0)
            # --- A -> B: each a-token's cross entries are CONTIGUOUS
            # blocks of length nb[r]; blockwise max + first-argmax
            blk_starts = np.repeat(soffs[:-1], na) + (
                np.arange(int(na.sum()), dtype=np.int64)
                - np.repeat(aoffs[:-1], na)
            ) * np.repeat(nb, na)
            best_ab = np.maximum.reduceat(gated, blk_starts)
            is_max = gated == np.repeat(best_ab, np.repeat(nb, na))
            j_cand = np.where(is_max, p % nb_row, np.int64(1) << 40)
            j_ab = np.minimum.reduceat(j_cand, blk_starts)
            vb_at = WB[np.repeat(boffs[:-1], na) + j_ab]
            contrib_ab = WA * vb_at * best_ab
            s_ab = np.add.reduceat(contrib_ab, aoffs[:-1])
            # --- B -> A: entries of one b-token are strided; scatter-reduce
            g_b = np.repeat(boffs[:-1], seg) + p % nb_row
            best_ba = np.zeros(len(WB), dtype=np.float64)
            np.maximum.at(best_ba, g_b, gated)
            is_max_b = gated == best_ba[g_b]
            i_cand = np.full(len(WB), np.int64(1) << 40, dtype=np.int64)
            np.minimum.at(i_cand, g_b[is_max_b], (p // nb_row)[is_max_b])
            va_at = WA[
                np.repeat(aoffs[:-1], nb)
                + np.minimum(i_cand, np.repeat(na, nb) - 1)
            ]
            contrib_ba = WB * va_at * best_ba
            s_ba = np.add.reduceat(contrib_ba, boffs[:-1])
            return np.minimum(np.maximum(s_ab, s_ba), 1.0)

        # group pair rows so each group's cross product is <= ~CAP
        # entries (a single giant pair forms its own group); grouping is
        # by cross-product prefix so group totals stay < CAP + max_seg
        seg_sizes = (na_all * nb_all)[valid]
        grp = (np.cumsum(seg_sizes) - seg_sizes) // _XPROD_CAP
        for gid in np.unique(grp):
            rows = valid[grp == gid]
            out[rows] = score_rows(rows)
        return pd.Series(out)

    return _udf(toks1, idfs1, toks2, idfs2)


def monge_elkan_pairs(
    pairs: DataFrame,
    id_cols: tuple = ("doc_id_1", "doc_id_2"),
    t1_col: str = "t1",
    t2_col: str = "t2",
) -> DataFrame:
    """Monge-Elkan hybrid similarity (Monge & Elkan, KDD 1996) over a
    candidate-pair frame: ME(A->B) = mean over tokens a of A of
    max_b sim(a, b), with the inner sim the normalized Levenshtein
    similarity 1 - lev/max(|a|,|b|). Output per pair:
    (ids..., me_12, me_21, me_sym) with me_sym = max of the two
    directions (the usual symmetrization), all 6-dp.

    Fully relational, zero Python: tokens are multiset-grouped to
    (tok, cnt) per side (duplicate tokens share one inner max), the
    per-pair token cross product is an equi-join on the pair ids, the
    inner sim is Spark's JVM ``levenshtein`` (whole-stage codegen; for
    uniform costs it is exactly the reference kernel's result,
    levenshtein.rs:435-507), the per-token max is a hash aggregate, and
    the mean is an EXACT integer-micro sum (each token max -> round to
    a micro int, weight by cnt, BIGINT-sum, one final division) so the
    result is bit-identical in any engine regardless of float summation
    order — the bcubed_eval accumulation pattern.

    Scale shape: two doc-keyed explodes, one pair-keyed equi-join whose
    per-pair fan-out is |distinct A| x |distinct B| tokens, two hash
    aggregates. For very long documents route through
    ``soft_tfidf_similarity``'s capped Arrow kernel instead; for
    name/title-sized strings this plan stays entirely inside codegen.
    """
    ids = list(id_cols)

    def side(col: str, nm: str) -> DataFrame:
        toks = pairs.select(
            *ids,
            F.explode(
                F.split(F.lower(F.col(col)), r"\s+")
            ).alias(f"tok_{nm}"),
        ).where(F.length(f"tok_{nm}") > 0)
        return toks.groupBy(*ids, f"tok_{nm}").agg(
            F.count("*").alias(f"cnt_{nm}")
        )

    a = side(t1_col, "a")
    b = side(t2_col, "b")
    x = a.join(b, ids)
    sim = (
        F.lit(1.0)
        - F.levenshtein("tok_a", "tok_b")
        / F.greatest(F.length("tok_a"), F.length("tok_b")).cast("double")
    )
    x = x.withColumn("sim", sim)

    def direction(src: str, dst: str) -> DataFrame:
        mx = x.groupBy(*ids, f"tok_{src}", f"cnt_{src}").agg(
            F.max("sim").alias("mx")
        )
        micro = F.round(F.col("mx") * 1e6).cast("long")
        return mx.groupBy(*ids).agg(
            F.round(
                F.sum(micro * F.col(f"cnt_{src}"))
                / (F.lit(1e6) * F.sum(f"cnt_{src}")),
                6,
            ).alias(f"me_{src}")
        )

    ab = direction("a", "b")
    ba = direction("b", "a")
    return (
        ab.join(ba, ids)
        .select(
            *ids,
            F.col("me_a").alias("me_12"),
            F.col("me_b").alias("me_21"),
            F.greatest("me_a", "me_b").alias("me_sym"),
        )
    )


def partial_ratio_pairs(
    pairs: DataFrame,
    col1: str = "t1",
    col2: str = "t2",
    id_cols: tuple[str, str] = ("id_1", "id_2"),
    cap_short: int | None = None,
    cap_long: int | None = None,
) -> DataFrame:
    """Windowed fuzz.partial_ratio over a candidate-pair frame: the
    best indel ratio of ``col1`` against every length-|s1| window of
    ``col2`` — the substring-alignment member of the rapidfuzz fuzz
    family (the reference ships only fuzz::ratio, src/fuzz.rs:48-86;
    this is the family's standard sliding-window extension, with the
    documented simplification that windows are anchored at every start
    offset of s2 and edge windows are the natural substr clamp, and
    ROLES ARE FIXED: s1 slides within s2 — callers wanting the
    symmetric max(partial(a,b), partial(b,a)) call it twice).

    Relational shape — no per-pair Python loop anywhere: posexplode a
    ``sequence(0, max(len2-len1, 0))`` of start offsets (each pair row
    fans out to its own window rows, a map-side explode), score every
    (s1, window) through the same Arrow-batched indel kernel as
    fuzz.ratio, then one groupBy max per pair. At 100 TB the explode
    factor is bounded by the length cap you choose (``cap_long`` -
    ``cap_short`` + 1 windows per pair); partial aggregation collapses
    the max map-side so the shuffle stays one row per pair.

    ``cap_short``/``cap_long`` truncate s1/s2 first (the driver query
    uses 8/20 so the SQL oracle's per-window recursive-CTE LCS replay
    stays bounded)."""
    import rapidfuzz_spark.functions as RF

    s1 = F.col(col1) if cap_short is None else F.substring(col1, 1, cap_short)
    s2 = F.col(col2) if cap_long is None else F.substring(col2, 1, cap_long)
    i1, i2 = id_cols
    w = pairs.select(
        i1,
        i2,
        s1.alias("__s1"),
        # explode_outer: a pair with a NULL text keeps its row and
        # scores NULL, whatever the window array of a NULL text is
        F.explode_outer(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.length(s2) - F.length(s1), F.lit(0)),
                ),
                lambda i: s2.substr(i + 1, F.length(s1)),
            )
        ).alias("__win"),
    )
    return (
        w.select(
            i1, i2, RF.ratio("__s1", "__win").alias("__r")
        )
        .groupBy(i1, i2)
        .agg(F.round(F.max("__r"), 6).alias("partial_ratio"))
    )
