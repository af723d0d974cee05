"""Exact edit-distance similarity joins (Ed-Join family): self-join and
two-table (R-S) linkage.

The reference (rapidfuzz-rs) computes Levenshtein distance one pair at
a time (`src/distance/levenshtein.rs:1021-1102` routing, banded kernels
`:769-1019`); it has no join. This module is the missing scale operator
for that kernel: find EVERY pair of documents within edit distance
``k`` — no false negatives, no quadratic all-pairs work — using the
positional q-gram prefix filter of Ed-Join (Xiao, Wang, Lin, VLDB
2008) + the positional-gram count lemma (Gravano et al., VLDB 2001),
then verify survivors with the repo's own cutoff Levenshtein kernel
under ``score_cutoff`` semantics (`kernels/batch.py`).

Filter chain (each step lossless, argued inline):

1. **q-gram prefix filter.** Each string of length n yields the
   multiset Q of its n-q+1 positional q-grams. If ed(s1,s2) <= k there
   is a matching M of gram occurrences, |M| >= max(|Q1|,|Q2|) - k*q,
   each matched pair equal grams with |pos1-pos2| <= k (Gravano's
   positional lemma: an unedited gram shifts by at most k positions,
   and each of the <= k edits destroys at most q grams). Order all
   occurrences by ascending global gram document-frequency (rarest
   first, ties by gram text then position — a deterministic total
   order shared by every doc on BOTH join sides; within one doc equal
   grams keep position order, so any matching can be rearranged
   monotone per gram, which preserves the |Δpos| <= k property
   pairwise). The globally-smallest matched pair then sits within the
   first ``k*q + 1`` occurrences on BOTH sides (the standard
   prefix-filter argument: at least |M|-1 >= |Qi| - k*q - 1 matched
   occurrences rank after it in Qi). So joining only the (k*q+1)-gram
   PREFIXES on (gram, |Δpos| <= k) finds every true pair whose longer
   side has more than k*q grams — and the prefix is the RAREST slice
   of the vocabulary, so the join is anti-skew by construction,
   exactly like the PPJoin prefix in
   `dedup.prefix_filter_jaccard_join`.

2. **Short-string bucket.** Pairs where BOTH sides have <= k*q grams
   (length n <= k*q + q - 1) can legally share zero grams, so they are
   paired within the bucket instead. The cartesian runs over DISTINCT
   VALUES (bounded by construction: <= |alphabet|^(kq+q-1) regardless
   of corpus size) collapsed to single partitions, with doc ids
   re-attached by value-keyed joins — a partitioned id-level crossJoin
   would inherit p1*p2 cartesian partitions and pay thousands of no-op
   task launches even when the bucket is EMPTY (measured: that
   overhead alone dominated the 480k-doc cluster bench, BENCH.md §25).
   A short and a long string never need this path: ed <= k forces
   |n1-n2| <= k, and the prefix argument above only needs the LONGER
   side to exceed k*q grams.

3. **Length filter.** |n1 - n2| <= k (ed is lower-bounded by the
   length gap) — applied map-side at the candidate join.

4. **Exact verification.** Survivors are scored with
   `functions.levenshtein_distance(score_cutoff=k)` — the same
   mbleven/bit-parallel routing, cut at k, that the pairwise API uses
   (reference semantics `levenshtein.rs:324-427,769-1019`), Option ->
   null under cutoff, then `WHERE dist IS NOT NULL`.

The R-S form (`edit_distance_join_rs`) is the incremental-linkage
shape: link an arriving batch against a reference corpus. Same filter
chain; the gram ORDER comes from a census over the UNION of both
sides (both sides must sort by the same total order for the prefix
theorem), candidates join left-prefixes against right-prefixes with
no id ordering constraint, and the short bucket crosses the two
sides' distinct value sets.

Scale shape: one gram-keyed shuffle for the df census + ordering join,
one doc-keyed regroup to sort/slice the prefix, one equi-join on
prefix grams (rare keys, position filter applied map-side BEFORE the
pair-dedup exchange), pair dedup, two id-keyed attaches, vectorized
verify. At 10^12 docs every stage is a standard shuffle on bounded
keys; there is no corpus-sized cartesian anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import levenshtein_distance

__all__ = ["edit_distance_join", "edit_distance_join_rs"]


def _strings(docs: DataFrame, text_col: str, prefix_chars: int | None) -> DataFrame:
    s = F.lower(F.col(text_col))
    if prefix_chars is not None:
        s = F.substring(s, 1, prefix_chars)
    return docs.select("doc_id", s.alias("s"), F.length(s).alias("n"))


def _gram_stream(strings: DataFrame, q: int) -> DataFrame:
    """(doc_id, n, pos, gram): positional q-grams of every doc with at
    least one gram (n >= q keeps the sequence() bound ascending)."""
    return (
        strings.where(F.col("n") >= q)
        .select(
            "doc_id",
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(length(s) - %d + 1, 0)),"
                    " p -> struct(p as pos, substring(s, p, %d) as gram))" % (q, q)
                )
            ).alias("g"),
        )
        .select(
            "doc_id", "n", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram")
        )
    )


def _prefixes(grams: DataFrame, census: DataFrame, plen: int) -> DataFrame:
    """First ``plen`` gram occurrences per doc in the global
    rarest-first order (gdf, gram, pos). Lazy lineage cut as in
    prefix_filter_jaccard_join: the prefix explode reads ONE
    materialization of the regroup instead of re-running the census
    join per downstream consumer."""
    ordered = (
        grams.join(census, "gram")
        .groupBy("doc_id")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("gdf", "gram", "pos"))),
                1,
                plen,
            ).alias("pref"),
            F.first("n").alias("n"),
        )
        .localCheckpoint(eager=False)
    )
    return ordered.select("doc_id", "n", F.explode("pref").alias("pg")).select(
        "doc_id", "n", F.col("pg.gram").alias("gram"), F.col("pg.pos").alias("pos")
    )


def _verify(
    cands: DataFrame, left: DataFrame, right: DataFrame, k: int
) -> DataFrame:
    """Attach both strings and run the exact Levenshtein kernel under
    score_cutoff; keep dist <= k."""
    return (
        cands.join(
            left.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("s").alias("s1"),
                F.col("n").alias("n1"),
            ),
            "doc_id_1",
        )
        .join(
            right.select(
                F.col("doc_id").alias("doc_id_2"),
                F.col("s").alias("s2"),
                F.col("n").alias("n2"),
            ),
            "doc_id_2",
        )
        .withColumn("dist", levenshtein_distance("s1", "s2", score_cutoff=k))
        .where(F.col("dist").isNotNull())
        .select(
            "doc_id_1",
            "doc_id_2",
            "n1",
            "n2",
            F.col("dist").cast("long").alias("dist"),
        )
    )


def edit_distance_join(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 2,
    q: int = 2,
    prefix_chars: int | None = None,
) -> DataFrame:
    """EXACT Levenshtein-distance <= ``k`` self-join over
    ``docs(doc_id, text_col)``.

    ``prefix_chars`` optionally truncates the compared string to its
    first N characters (lowercased) — the common ER form "match on the
    normalized head of the record"; ``None`` compares full strings.

    Returns (doc_id_1, doc_id_2, n1, n2, dist) for every unordered pair
    with ed <= k, doc_id_1 < doc_id_2. ``dist`` is the exact distance
    (long).
    """
    if q < 1 or k < 0:
        raise ValueError("need q >= 1 and k >= 0")
    strings = _strings(docs, text_col, prefix_chars)
    short_max = k * q + q - 1  # both sides <= this length -> bucket path

    # EVERY doc with >= 1 gram enters the prefix path (a doc with
    # <= k*q grams takes its whole gram set as prefix): a true pair is
    # found here whenever its LONGER side has > k*q grams, even if the
    # shorter side is tiny. Docs with zero grams (n < q) can only pair
    # with strings of length <= q-1+k <= short_max, all inside the
    # short bucket.
    grams = _gram_stream(strings, q)
    census = grams.groupBy("gram").agg(F.count("*").alias("gdf"))
    prefixes = _prefixes(grams, census, k * q + 1)

    a = prefixes.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("n").alias("n1"),
        F.col("pos").alias("p1"),
        "gram",
    )
    b = prefixes.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("n").alias("n2"),
        F.col("pos").alias("p2"),
        "gram",
    )
    long_cands = (
        a.join(b, "gram")
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        # length + position filters are map-side, BEFORE the dedup
        # exchange (the PPJoin positional-filter lesson, BENCH.md §23)
        .where(F.abs(F.col("n1") - F.col("n2")) <= k)
        .where(F.abs(F.col("p1") - F.col("p2")) <= k)
        .select("doc_id_1", "doc_id_2")
    )

    # short bucket (module docstring §2): distinct-value cartesian,
    # id re-attach via value-keyed joins; same-value id pairs (ed 0)
    # come from a value-keyed self-join, never a cartesian
    short_side = strings.where(F.col("n") <= short_max)
    sv = short_side.select("s", "n").distinct().coalesce(1)
    vp = (
        sv.select(F.col("s").alias("vs1"), F.col("n").alias("vn1"))
        .crossJoin(sv.select(F.col("s").alias("vs2"), F.col("n").alias("vn2")))
        .where(F.col("vs1") < F.col("vs2"))
        .where(F.abs(F.col("vn1") - F.col("vn2")) <= k)
        .select("vs1", "vs2")
    )
    ids = short_side.select("doc_id", "s")
    cross_value = (
        vp.join(
            ids.select(F.col("doc_id").alias("id_a"), F.col("s").alias("vs1")), "vs1"
        )
        .join(
            ids.select(F.col("doc_id").alias("id_b"), F.col("s").alias("vs2")), "vs2"
        )
        .select(
            F.least("id_a", "id_b").alias("doc_id_1"),
            F.greatest("id_a", "id_b").alias("doc_id_2"),
        )
    )
    same_value = (
        ids.select(F.col("doc_id").alias("doc_id_1"), "s")
        .join(ids.select(F.col("doc_id").alias("doc_id_2"), "s"), "s")
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
    )
    short_cands = cross_value.unionByName(same_value)

    cands = long_cands.unionByName(short_cands).dropDuplicates(
        ["doc_id_1", "doc_id_2"]
    )
    return _verify(cands, strings, strings, k)


def edit_distance_join_rs(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    k: int = 2,
    q: int = 2,
    prefix_chars: int | None = None,
) -> DataFrame:
    """EXACT Levenshtein-distance <= ``k`` two-table join: every
    (l, r) in ``left`` x ``right`` with ed <= k — the incremental-
    linkage shape (arriving batch vs reference corpus). Both inputs
    carry (doc_id, text_col); ids need not be disjoint (a doc present
    on both sides emits its own (l, r) pair at dist 0).

    The global gram order comes from ONE census over the union of both
    sides' gram streams — the prefix theorem needs both sides sorted
    by the same total order, and combined df is also the better rarity
    signal (a gram common on the right is a bad join key even if rare
    on the left).

    Returns (doc_id_1 = left id, doc_id_2 = right id, n1, n2, dist).
    """
    if q < 1 or k < 0:
        raise ValueError("need q >= 1 and k >= 0")
    ls = _strings(left, text_col, prefix_chars)
    rs = _strings(right, text_col, prefix_chars)
    short_max = k * q + q - 1

    lg = _gram_stream(ls, q)
    rg = _gram_stream(rs, q)
    census = (
        lg.select("gram")
        .unionByName(rg.select("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("gdf"))
    )
    plen = k * q + 1
    lp = _prefixes(lg, census, plen)
    rp = _prefixes(rg, census, plen)

    a = lp.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("n").alias("n1"),
        F.col("pos").alias("p1"),
        "gram",
    )
    b = rp.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("n").alias("n2"),
        F.col("pos").alias("p2"),
        "gram",
    )
    long_cands = (
        a.join(b, "gram")
        .where(F.abs(F.col("n1") - F.col("n2")) <= k)
        .where(F.abs(F.col("p1") - F.col("p2")) <= k)
        .select("doc_id_1", "doc_id_2")
    )

    # short bucket across the two sides: distinct left values x
    # distinct right values (equal values INCLUDED — no ordering
    # constraint in R-S), then id re-attach per side
    lshort = ls.where(F.col("n") <= short_max)
    rshort = rs.where(F.col("n") <= short_max)
    lv = lshort.select("s", "n").distinct().coalesce(1)
    rv = rshort.select("s", "n").distinct().coalesce(1)
    vp = (
        lv.select(F.col("s").alias("vs1"), F.col("n").alias("vn1"))
        .crossJoin(rv.select(F.col("s").alias("vs2"), F.col("n").alias("vn2")))
        .where(F.abs(F.col("vn1") - F.col("vn2")) <= k)
        .select("vs1", "vs2")
    )
    short_cands = (
        vp.join(
            lshort.select(F.col("doc_id").alias("doc_id_1"), F.col("s").alias("vs1")),
            "vs1",
        )
        .join(
            rshort.select(F.col("doc_id").alias("doc_id_2"), F.col("s").alias("vs2")),
            "vs2",
        )
        .select("doc_id_1", "doc_id_2")
    )

    cands = long_cands.unionByName(short_cands).dropDuplicates(
        ["doc_id_1", "doc_id_2"]
    )
    return _verify(cands, ls, rs, k)
