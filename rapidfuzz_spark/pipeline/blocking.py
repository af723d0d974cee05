"""Blocking-key generation with explicit hot-key skew handling.

The shipped recipe (``run.pipeline_candidates``) blocks on these families:
- ``t:`` whole tokens, ``tp:``/``ts:`` token prefix/suffix affixes, and
  (``doc_prefix_blocking`` only) ``p:`` the first PREFIX_N chars of the
  squashed canonical text: all fused into one projection by
  ``blocking_keys``;
- ``e:`` del<=1 signatures of discriminative tokens
  (``token_deletion_keys``, DF-prefiltered at ``drop_cap``);
- ``mr:`` shared non-text span media refs (``media_ref_keys``);
- sorted-neighborhood pairs (``sorted_neighborhood_pairs``): each doc
  with its SN_WINDOW successors in sort order inside prefix-range
  buckets, produced directly as pairs.

Skew: a census (groupBy(block_key).count()) finds hot keys; keys above
``hot_cap`` get a replication factor G = ceil(count / hot_cap). The pair
self-join then salts the left side with the member's group and replicates
the right side G ways — every pair is still produced exactly once, but the
hot key's work is spread over G join partitions (the explicit salting the
north rule demands; AQE skew-join remains enabled as a backstop).
Keys above ``drop_cap`` (stopword-like, quadratic blowup) are dropped —
standard ER practice; recall is preserved by the other blocking passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Shared pass parameters: the fused blocking_keys projection and the
# standalone per-pass functions (token_keys & co., kept as the reference
# implementations CI checks the fusion against) must agree on these, so
# they live in one place.
TOKEN_MIN_LEN = 2
PREFIX_N = 4
AFFIX_N = 4
AFFIX_MIN_LEN = 5
SN_BUCKET_CHARS = 2
SN_WINDOW = 3
DELSIG_MIN_LEN = 5
DELSIG_MAX_LEN = 16
# census: keys above HOT_CAP members are salted over ceil(count / HOT_CAP)
# join partitions
HOT_CAP = 200


def _sn_ranked(docs: DataFrame):
    """(ranked keyed docs, window spec) shared by the sorted-neighborhood
    key and direct-pair paths: docs keyed by whitespace-squashed canonical
    text, bucketed by its SN_BUCKET_CHARS-char prefix (a range partition
    of the lexicographic order, so per-bucket sorts stay bounded)."""
    keyed = docs.select(
        "doc_id", F.regexp_replace("canon_text", r"\s", "").alias("sort_key")
    ).withColumn("bucket", F.substring("sort_key", 1, SN_BUCKET_CHARS))
    w = Window.partitionBy("bucket").orderBy("sort_key", "doc_id")
    return keyed, w


def token_keys(docs: DataFrame, min_len: int = TOKEN_MIN_LEN) -> DataFrame:
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("norm_text", r"\s+"))).alias("tok"),
    ).where(F.length("tok") >= min_len)
    return toks.select(F.concat(F.lit("t:"), "tok").alias("block_key"), "doc_id")


def token_affix_keys(
    docs: DataFrame, n: int = AFFIX_N, min_len: int = AFFIX_MIN_LEN
) -> DataFrame:
    """Per-token prefix AND suffix keys ("tp:abcd" / "ts:defg"): a single
    in-token edit at position p keeps the prefix key when p > n and the
    suffix key when p <= len-n, so 2n >= len-1 covers every single-edit
    corruption of a discriminative token — the recall carrier once
    stopword-grade whole-token keys are census-dropped at scale. Hot
    affixes (shared name stems) are themselves culled by the census."""
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("norm_text", r"\s+"))).alias("tok"),
    ).where(F.length("tok") >= min_len)
    pfx = toks.select(
        F.concat(F.lit("tp:"), F.substring("tok", 1, n)).alias("block_key"), "doc_id"
    )
    sfx = toks.select(
        F.concat(F.lit("ts:"), F.substring("tok", -n, n)).alias("block_key"),
        "doc_id",
    )
    return pfx.unionByName(sfx).dropDuplicates(["block_key", "doc_id"])


def _deletion_sig_arr(tok):
    """Column expr: array of 'e:'-namespaced single-deletion signatures of
    a token, PLUS the token itself — the del<=1 neighborhood. Two tokens
    within Levenshtein distance 1 (sub/ins/del and also adjacent swap:
    deleting one of the two swapped chars from each side meets in the
    middle) always share at least one element."""
    dels = F.transform(
        F.sequence(F.lit(1), F.length(tok)),
        lambda i: F.concat(
            F.lit("e:"),
            F.substring(tok, 1, i - 1),
            F.substr(tok, i + 1),
        ),
    )
    return F.concat(F.array(F.concat(F.lit("e:"), tok)), dels)


def token_deletion_keys(
    docs: DataFrame,
    min_len: int = DELSIG_MIN_LEN,
    max_len: int = DELSIG_MAX_LEN,
    df_cap: int | None = None,
    carry_len_from: str | None = None,
) -> DataFrame:
    """Deletion-signature keys for discriminative tokens: for each token
    of length [min_len, max_len], one key per del<=1 neighborhood string.

    The recall carrier for a single in-token edit ANYWHERE in a rare
    token: affix keys (tp:/ts:) only survive edits outside the affix
    window, while a del-1 signature exists for every edit position. Each
    entity's records sit within 1 token-edit of its canonical form, so
    corrupted records block with the exact record and transitive
    clustering closes the rest. Signatures of frequent tokens ("smith")
    are hot and census-dropped like any stopword key; signatures of rare
    tokens index O(1) docs, so the candidate-pair cost is near-linear.

    ``df_cap``: skip sig GENERATION for tokens whose document frequency
    exceeds it. With ``df_cap = candidate_pairs' drop_cap`` the result is
    provably a SUPERSET of the unfiltered pair set, never a subset:

    - nothing is lost: a (key, doc) row removed by the filter belongs to
      a key whose unfiltered census count is >= df(hot token) > drop_cap,
      so the unfiltered path drops that whole key anyway;
    - pairs can be GAINED where a rare token's del<=1 neighborhood
      collides with a hot token's signature (hot ``smith`` vs rare
      ``smiths``/``smitha`` all emit ``e:smith``): unfiltered, the hot
      token inflates that key past drop_cap and destroys the rare
      neighborhood; filtered, the key's count is its sub-cap-token
      support only, so the rare docs still pair. Those extra candidates
      are exactly the ones a stopword collision used to censor — and
      scoring still gates every pair, so recall is monotone and
      precision is unchanged by construction.

    Both directions are locked by ``test_deletion_sig_df_cap_monotone``.
    What changes operationally is WHERE the stopword cull happens:
    without the cap, a stopword-grade token emits len(tok)+1 sig keys
    per occurrence (~10-18x the single-token key volume) through the
    explode and the census shuffle before dying; with it, the ~len+1
    amplification applies only to sub-drop_cap tokens. At 10^12 docs the
    census shuffle on a token is O(df) small rows while the sig explode
    is O(df * len) — filtering first is the difference between shuffling
    the corpus' stopword mass 18x or once."""
    len_cols = (
        [F.length(carry_len_from).alias("tlen")] if carry_len_from else []
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("norm_text", r"\s+"))).alias("tok"),
        *len_cols,
    ).where(F.length("tok").between(min_len, max_len))
    if df_cap is not None:
        # tokens are distinct per doc, so count == document frequency;
        # the hot-token set is stopword-grade small -> broadcast anti-join
        hot = toks.groupBy("tok").count().where(F.col("count") > df_cap)
        toks = toks.join(F.broadcast(hot.select("tok")), "tok", "left_anti")
    # per-doc dedup BEFORE the ~(len+1)x sig explode: regrouping the
    # surviving (doc, tok) rows (map-side-combinable collect_set, ~1 row
    # per token) and array_distinct-ing the flattened sig arrays yields
    # exactly dropDuplicates(block_key, doc_id) — deleting either of two
    # doubled letters gives the same signature ("jessica" -> "jesica"
    # twice), and cross-token collisions within a doc collapse too — at
    # ~1/(len+1) of the shuffle volume a post-explode dropDuplicates
    # would move
    aggs = [F.collect_set("tok").alias("toks")]
    if carry_len_from:
        aggs.append(F.first("tlen").alias("tlen"))
    toks_arr = toks.groupBy("doc_id").agg(*aggs)
    sigs = F.array_distinct(
        F.flatten(F.transform(F.col("toks"), _deletion_sig_arr))
    )
    out_cols = [F.explode(sigs).alias("block_key"), F.col("doc_id")]
    if carry_len_from:
        out_cols.append(F.col("tlen"))
    return toks_arr.select(*out_cols)


def media_ref_keys(docs: DataFrame, carry_len_from: str | None = None) -> DataFrame:
    """'mr:'-namespaced blocking keys from the NON-text spans of an
    interleaved document: two docs that embed the same media object
    (identical ``media_ref``) are candidate duplicates no matter how far
    their text has drifted — the one signal the text passes cannot see.

    Needs the raw ``spans`` column (kind/text/media_ref/offset per the
    driver input_hint), which ``ingest.with_match_text`` preserves. Keys
    are distinct per doc; a boilerplate asset shared corpus-wide (site
    logo) becomes a hot key and is salted or drop-capped by the census
    exactly like a stopword token. Scoring still gates every candidate
    pair by text similarity, so media co-occurrence proposes pairs but
    never creates edges by itself."""
    arr = F.transform(
        F.filter(
            "spans",
            # null-safe kind test: a span with kind NULL but a media_ref
            # set must still key (plain != returns NULL for NULL kind and
            # F.filter treats NULL as false)
            lambda s: ~s["kind"].eqNullSafe(F.lit("text"))
            & s["media_ref"].isNotNull(),
        ),
        lambda s: F.concat(F.lit("mr:"), s["media_ref"]),
    )
    cols = [F.explode(F.array_distinct(arr)).alias("block_key"), F.col("doc_id")]
    if carry_len_from is not None:
        cols.append(F.length(carry_len_from).alias("tlen"))
    return docs.select(*cols)


def prefix_keys(docs: DataFrame, n: int = PREFIX_N) -> DataFrame:
    return docs.select(
        F.concat(
            F.lit("p:"), F.substring(F.regexp_replace("canon_text", r"\s", ""), 1, n)
        ).alias("block_key"),
        "doc_id",
    ).where(F.length("block_key") > 2)


def sorted_neighborhood_keys(docs: DataFrame, window: int = SN_WINDOW) -> DataFrame:
    """Neighbor keys via rank inside prefix-range buckets: each doc pairs
    with its ``window`` successors in sort order. The bucket is the sort
    key's 2-char prefix — a range partition of the lexicographic order, so
    the per-bucket sort is bounded (scales by prefix length, not executor
    memory) and the bucketing is engine-independent (reproducible in plain
    SQL, unlike a hash-modulo bucket)."""
    keyed, w = _sn_ranked(docs)
    ranked = keyed.withColumn("rank", F.row_number().over(w))
    out = None
    for off in range(1, window + 1):
        # doc at rank r and its successor at rank r+off share a key
        pair_key = ranked.select(
            F.concat_ws(":", F.lit(f"sn{off}"), "bucket", F.col("rank")).alias(
                "block_key"
            ),
            "doc_id",
        ).union(
            ranked.select(
                F.concat_ws(
                    ":", F.lit(f"sn{off}"), "bucket", F.col("rank") - F.lit(off)
                ).alias("block_key"),
                "doc_id",
            )
        )
        out = pair_key if out is None else out.unionByName(pair_key)
    return out


def sorted_neighborhood_pairs(docs: DataFrame, window: int = SN_WINDOW) -> DataFrame:
    """Candidate pairs of the sorted-neighborhood pass, produced DIRECTLY:
    each doc paired with its ``window`` successors in sort order inside
    prefix-range buckets, via one window pass with ``lead``.

    Exactly the pair set that ``sorted_neighborhood_keys`` yields through
    the generic block self-join — but every sn key is a size-2 block, so
    routing them through key materialization, the census (they can never
    be hot), and the salted join is pure overhead: at 360k docs that is
    2.2M key rows and ~1.1M raw join pairs avoided. Feed the result to
    ``candidate_pairs(extra_pairs=...)`` so cross-pass dedup still applies."""
    keyed, w = _sn_ranked(docs)
    with_leads = keyed.select(
        "doc_id",
        F.array(
            *[F.lead("doc_id", o).over(w) for o in range(1, window + 1)]
        ).alias("nbrs"),
    )
    return (
        with_leads.select("doc_id", F.explode("nbrs").alias("nbr"))
        # nbr != doc_id: guards against self-pairs should the input ever
        # carry duplicate doc_id rows — the keyed path excluded them
        # structurally via the join's strict doc_id_l < doc_id_r
        .where(F.col("nbr").isNotNull() & (F.col("nbr") != F.col("doc_id")))
        .select(
            F.least("doc_id", "nbr").alias("doc_id_1"),
            F.greatest("doc_id", "nbr").alias("doc_id_2"),
        )
    )


def blocking_keys(
    docs: DataFrame,
    use_prefix: bool = True,
    carry_len_from: str | None = None,
) -> DataFrame:
    """The token (t:), affix (tp:/ts:) and, with ``use_prefix``, doc-prefix
    (p:) passes fused into ONE narrow projection + explode: the per-doc
    key set is built with higher-order functions (transform / filter over
    the token array) and deduped per doc with array_distinct — key
    namespaces are disjoint, so per-doc distinct equals the per-pass
    global dedup. vs one DataFrame per pass unioned, this removes the
    affix-key dropDuplicates SHUFFLE, two redundant explode scans of the
    doc cache, and the union's partition concatenation. Per-pass outputs
    are still exposed above (token_keys & co.) and CI asserts set
    equality with their union.

    ``carry_len_from``: ride that column's length through the key explode
    as ``tlen`` (one int per row) so candidate_pairs can apply the
    length-difference prune BEFORE the pair-dedup shuffle."""
    toks = F.array_distinct(F.split("norm_text", r"\s+"))
    arrs = [
        F.transform(
            F.filter(toks, lambda t: F.length(t) >= TOKEN_MIN_LEN),
            lambda t: F.concat(F.lit("t:"), t),
        )
    ]
    if use_prefix:
        squashed = F.regexp_replace("canon_text", r"\s", "")
        arrs.append(
            F.when(
                F.length(squashed) >= 1,
                F.array(F.concat(F.lit("p:"), F.substring(squashed, 1, PREFIX_N))),
            ).otherwise(F.array().cast("array<string>"))
        )
    longs = F.filter(toks, lambda t: F.length(t) >= AFFIX_MIN_LEN)
    arrs.append(
        F.transform(longs, lambda t: F.concat(F.lit("tp:"), F.substring(t, 1, AFFIX_N)))
    )
    arrs.append(
        F.transform(
            longs, lambda t: F.concat(F.lit("ts:"), F.substring(t, -AFFIX_N, AFFIX_N))
        )
    )
    key_arr = F.array_distinct(F.concat(*arrs))
    cols = [F.explode(key_arr).alias("block_key"), F.col("doc_id")]
    if carry_len_from is not None:
        cols.append(F.length(carry_len_from).alias("tlen"))
    return docs.select(*cols)


def hot_key_census(keys: DataFrame, hot_cap: int, drop_cap: int) -> DataFrame:
    """block_key -> replication factor G for keys above hot_cap; keys above
    drop_cap are excluded entirely. Small output (hot keys only) ->
    broadcastable."""
    return (
        keys.groupBy("block_key")
        .count()
        .where(F.col("count") > hot_cap)
        .select(
            "block_key",
            F.col("count").alias("key_count"),
            F.least(
                F.lit(64),
                F.ceil(F.col("count") / F.lit(hot_cap)).cast("int"),
            ).alias("g"),
            (F.col("count") > drop_cap).alias("dropped"),
        )
    )


def candidate_pairs(
    keys: DataFrame,
    hot_cap: int = HOT_CAP,
    drop_cap: int = 20000,
    seed: int = 42,
    extra_pairs: DataFrame = None,
    cache_out: list | None = None,
    len_frac: float | None = None,
) -> DataFrame:
    """Self-join blocking keys into unordered candidate pairs
    (doc_id_1 < doc_id_2), deduped across blocking passes, with explicit
    salting of hot keys.

    Left row gets salt = xxhash64(doc_id) % G (deterministic — resume-safe,
    per SURVEY §7.3); right row is replicated G ways. Join key is
    (block_key, salt): every (x, y) pair in a hot block is produced exactly
    once, spread over G partitions instead of one.

    ``cache_out``: the persisted key cache is appended here so the caller
    can ``unpersist()`` it once the pairs have been consumed — without
    this, every invocation in a long-lived session leaks a full
    (block_key, doc_id) cache until eviction (run_pipeline releases it
    after the entity write).

    ``len_frac``: when set AND the keys carry a ``tlen`` column (key
    generators' ``carry_len_from``), pairs failing the indel-family
    length-difference bound |l1-l2| <= len_frac * (l1+l2) are dropped AT
    THE JOIN, before the pair-dedup shuffle and the text-attach joins —
    the same pairs score_pairs' length prefilter would discard after
    attach, removed while they are still 16-byte id rows. Phase profiling
    at 360k docs puts pairs+dedup+attach at ~70% of pipeline wall, so
    this is the main serial-chain lever. Callers must pass
    len_frac = (1 - threshold) only for metrics with that prefilter
    (ratio/indel/levenshtein/lcs_seq).
    """
    # materialize keys once: the census aggregation and the pair self-join
    # both consume them (recomputing the explode+window passes twice costs
    # more than storing (block_key, doc_id) rows). MEMORY_AND_DISK persist,
    # not localCheckpoint: survives executor loss, spills instead of
    # pinning the full key set in executor memory, and stays lazy.
    from pyspark.storagelevel import StorageLevel

    # the union of blocking passes CONCATENATES their partitions (~7x the
    # shuffle-partition setting here), and every consumer of the cached
    # keys then pays that task count: measured 232-task stages whose
    # executorRunTime was ~10x the actual row work. Coalesce (no shuffle)
    # back to the session's shuffle parallelism before caching; AQE does
    # not coalesce InMemoryTableScan reads, so this must happen pre-persist.
    try:
        n_part = int(keys.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_part = keys.sparkSession.sparkContext.defaultParallelism
    # coalesce never increases partition count, so this is a no-op when
    # the input is already at or below the target
    keys = keys.coalesce(n_part).persist(StorageLevel.MEMORY_AND_DISK)
    if cache_out is not None:
        cache_out.append(keys)
    # broadcast-join the census DataFrame directly — never collected to
    # the driver (at 100 TB millions of keys can exceed hot_cap; the
    # census output is still small relative to data, but it belongs on
    # executors, not in a driver-side createDataFrame)
    census = hot_key_census(
        keys.select("block_key", "doc_id"), hot_cap, drop_cap
    )
    keyed = keys.join(F.broadcast(census), "block_key", "left").where(
        ~F.coalesce(F.col("dropped"), F.lit(False))
    )
    g = F.coalesce(F.col("g"), F.lit(1))
    with_len = len_frac is not None and "tlen" in keys.columns
    left = keyed.select(
        "block_key",
        F.col("doc_id").alias("doc_id_l"),
        # pmod, not abs % g: abs(Long.MIN_VALUE) stays negative in Spark
        # SQL, and a negative salt matches no replicated right-side row
        F.pmod(F.xxhash64("doc_id", F.lit(seed)), g).cast("int").alias("salt"),
        *([F.col("tlen").alias("tlen_l")] if with_len else []),
    )
    right = keyed.select(
        "block_key",
        F.col("doc_id").alias("doc_id_r"),
        F.explode(F.sequence(F.lit(0), g - 1)).alias("salt"),
        *([F.col("tlen").alias("tlen_r")] if with_len else []),
    )
    pairs = left.join(right, ["block_key", "salt"]).where(
        F.col("doc_id_l") < F.col("doc_id_r")
    )
    if with_len:
        # evaluated map-side on the join output, before the dedup exchange
        pairs = pairs.where(
            F.abs(F.col("tlen_l") - F.col("tlen_r"))
            <= len_frac * (F.col("tlen_l") + F.col("tlen_r"))
        )
    out = pairs.select(
        F.col("doc_id_l").alias("doc_id_1"), F.col("doc_id_r").alias("doc_id_2")
    )
    if extra_pairs is not None:
        # pre-formed pairs from passes that never need salting (e.g.
        # sorted_neighborhood_pairs, whose blocks are size 2 by
        # construction); unioned before the dedup shuffle so cross-pass
        # duplicates still collapse exactly once
        out = out.unionByName(extra_pairs.select("doc_id_1", "doc_id_2"))
    return out.dropDuplicates(["doc_id_1", "doc_id_2"])


def meta_block_wep(keys: DataFrame, drop_cap: int | None = None) -> DataFrame:
    """Meta-blocking with CBS edge weights and Weighted Edge Pruning
    (Papadakis et al., "Meta-Blocking: Taking Entity Resolution to the
    Next Level", TKDE 2014).

    The blocking graph's edges are the candidate pairs; each edge's
    weight is the Common Blocks Scheme count (number of blocking keys
    the two docs share). WEP keeps edges whose weight is >= the global
    mean edge weight — redundancy-positive blocking (token keys emit
    the same pair from every shared token) makes the shared-key count a
    cheap similarity proxy, so pruning below the mean discards the
    pairs least likely to survive scoring BEFORE any string kernel runs.

    Scale shape: the CBS aggregation is the SAME exchange the plain
    pipeline already pays for pair dedup — ``candidate_pairs`` ends in
    dropDuplicates(doc_id_1, doc_id_2), and groupBy(same keys).count()
    is the identical hash-partition shuffle with a count attached, so
    the weights are free. Partial aggregation halves the shuffled rows
    map-side wherever a pair repeats within a partition. The mean is a
    single scalar aggregate broadcast back (one tiny exchange), and the
    keep flag is evaluated map-side. At 10^12 docs WEP typically cuts
    the scored-pair volume by an order of magnitude at negligible
    recall loss (the redundant pairs it keeps are exactly the ones with
    corroborating evidence) — it is the standard pair-pruning lever for
    dirty ER at web scale.

    Engine-replayable boundary: w_bar = sum(cbs)/count(*) — the sum is
    an exact BIGINT in both Spark and DuckDB, the single double
    division is IEEE-exact, so ``cbs >= w_bar`` is bit-reproducible
    (no floating accumulation order anywhere).

    ``drop_cap``: oversized blocks (stopword keys) are removed BEFORE
    pair generation, mirroring ``candidate_pairs``'s census drop-cap —
    block filtering in the meta-blocking literature.

    Input: (block_key, doc_id) rows. Output: one row per candidate
    pair — (doc_id_1, doc_id_2, cbs, kept).
    """
    edges = _cbs_edges(keys, drop_cap)
    w_bar = edges.agg(
        (F.sum("cbs") / F.count("*")).alias("w_bar")
    )
    return edges.crossJoin(F.broadcast(w_bar)).select(
        "doc_id_1",
        "doc_id_2",
        "cbs",
        (F.col("cbs") >= F.col("w_bar")).alias("kept"),
    )


def _cbs_edges(keys: DataFrame, drop_cap: int | None) -> DataFrame:
    """Blocking-graph edges weighted by the Common Blocks Scheme: one
    row per candidate pair with cbs = number of blocking keys shared.
    Shared by the WEP / WNP pruning schemes above/below; the groupBy is
    the same hash exchange as ``candidate_pairs``'s pair dedup."""
    k = keys.select("block_key", "doc_id")
    if drop_cap is not None:
        sizes = k.groupBy("block_key").agg(F.count("*").alias("bn"))
        k = k.join(
            F.broadcast(sizes.where(F.col("bn") > drop_cap)),
            "block_key",
            "left_anti",
        )
    left = k.select("block_key", F.col("doc_id").alias("doc_id_1"))
    right = k.select("block_key", F.col("doc_id").alias("doc_id_2"))
    return (
        left.join(right, "block_key")
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("cbs"))
    )


def meta_block_wnp(keys: DataFrame, drop_cap: int | None = None) -> DataFrame:
    """Meta-blocking with CBS edge weights and Weighted Node Pruning
    (Papadakis et al., TKDE 2014 — the node-centric sibling of
    ``meta_block_wep``).

    Each node's threshold is the mean weight of its OWN adjacent edges;
    an edge is retained when its weight reaches the threshold of at
    least one endpoint (`cbs >= least(thr_1, thr_2)`). Where WEP's one
    global mean over-prunes sparse regions of the blocking graph (a
    low-degree record's best edge can sit below the global mean purely
    because dense regions dominate it), WNP adapts the cut per record —
    the standard recall-preserving variant for heterogeneous corpora.

    Scale shape: on top of the shared CBS aggregation (same exchange as
    pair dedup — see ``_cbs_edges``), WNP pays (1) one node-keyed
    aggregation over the 2|E| endpoint rows and (2) two edge-keyed
    join-backs of the per-node thresholds (shuffles on doc_id_1 then
    doc_id_2). All three are exchanges over the EDGE list, which block
    filtering (``drop_cap``) has already bounded — never over the
    corpus. Node-degree skew (a celebrity record in many blocks) is
    bounded by the same drop-cap: a node's degree is at most
    sum(min(cap, |block|)) over its keys. AQE handles the residual
    head; per-node partial aggregation collapses endpoint rows
    map-side first.

    Engine-replayable boundary: each node threshold is one exact BIGINT
    sum over that node's edge weights divided once (IEEE-exact), and
    `least()` of two exact doubles is exact, so the keep flag is
    bit-reproducible in any engine — no floating accumulation order.

    Input: (block_key, doc_id) rows. Output: one row per candidate
    pair — (doc_id_1, doc_id_2, cbs, kept).
    """
    edges = _cbs_edges(keys, drop_cap)
    # both endpoints in ONE pass over the edge list (an explode, not a
    # self-union — a union would plan the CBS aggregation subtree twice)
    ends = edges.select(
        F.explode(F.array("doc_id_1", "doc_id_2")).alias("doc_id"), "cbs"
    )
    thr = ends.groupBy("doc_id").agg(
        (F.sum("cbs") / F.count("*")).alias("w_node")
    )
    return (
        edges.join(
            thr.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("w_node").alias("w_1"),
            ),
            "doc_id_1",
        )
        .join(
            thr.select(
                F.col("doc_id").alias("doc_id_2"),
                F.col("w_node").alias("w_2"),
            ),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            "cbs",
            (F.col("cbs") >= F.least("w_1", "w_2")).alias("kept"),
        )
    )


def meta_block_cnp(
    keys: DataFrame, k: int = 2, drop_cap: int | None = None
) -> DataFrame:
    """Meta-blocking with CBS edge weights and Cardinality Node Pruning
    (Papadakis et al., TKDE 2014 — the budgeted sibling of WEP/WNP).

    Each node retains only its ``k`` heaviest adjacent edges; an edge
    survives when it is retained by at least one endpoint. Unlike the
    threshold schemes, CNP caps the kept-edge count at <= k per record
    REGARDLESS of the weight distribution — the lever to use when the
    downstream scoring budget is fixed (at most k*|docs| string-kernel
    calls) rather than recall-driven.

    Determinism: ties are broken by (cbs DESC, neighbor doc_id ASC), so
    the retained set — and therefore the kept flag — is a pure function
    of the input, independent of partitioning, and replayable by any
    engine's row_number() with the same ORDER BY.

    Scale shape: the per-node top-k is a window PARTITIONED BY the node
    (one hash exchange on doc_id over the 2|E| directed endpoint rows —
    never a global sort), and the non-survivors are DISCARDED before
    the join-back: the retained set is at most k rows per node, so the
    single undirected join-back moves <= 2k|docs| rows — tiny next to
    the edge list (and broadcast-able whenever k|docs| fits; at 10^12
    docs it degrades to one pair-keyed exchange, still one instead of
    two edge-wide joins). Node-degree skew is bounded by the same
    block-filtering ``drop_cap`` as the other schemes.

    Input: (block_key, doc_id) rows. Output: one row per candidate
    pair — (doc_id_1, doc_id_2, cbs, kept).
    """
    from pyspark.sql import Window

    edges = _cbs_edges(keys, drop_cap)
    # both directions in ONE pass over the edge list (an explode, not a
    # self-union — a union would plan the CBS aggregation subtree twice)
    directed = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id_1").alias("src"),
                    F.col("doc_id_2").alias("dst"),
                ),
                F.struct(
                    F.col("doc_id_2").alias("src"),
                    F.col("doc_id_1").alias("dst"),
                ),
            )
        ).alias("e"),
        "cbs",
    ).select("e.src", "e.dst", "cbs")
    w = Window.partitionBy("src").orderBy(
        F.col("cbs").desc(), F.col("dst").asc()
    )
    survivors = (
        directed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            F.least("src", "dst").alias("doc_id_1"),
            F.greatest("src", "dst").alias("doc_id_2"),
        )
        .dropDuplicates(["doc_id_1", "doc_id_2"])
        .withColumn("kept", F.lit(True))
    )
    return edges.join(
        survivors, ["doc_id_1", "doc_id_2"], "left"
    ).select(
        "doc_id_1",
        "doc_id_2",
        "cbs",
        F.coalesce("kept", F.lit(False)).alias("kept"),
    )


def soundex_key(col) -> "Column":
    """American Soundex code (first letter + 3 digits, zero-padded) as
    a pure expression chain in the Java-regex/RE2 + ANSI common subset
    (upper/regexp_replace/translate/CASE/rpad — no lookarounds, no
    backrefs), so the SAME construction evaluates bit-identically in
    Spark and any SQL oracle engine. Classic rules implemented:
    vowels (AEIOUY) separate same-code consonants, H/W are transparent
    (same-code consonants around them collapse), and same-code runs —
    including a run absorbing the first letter — code once.

    Chain: strip non-letters; delete H/W (transparency = adjacency
    after deletion); translate letters to codes (vowels -> 0);
    collapse each digit run (seven '11+' -> '1'-style rules, backref-
    free); drop the FIRST digit unless the original first letter was
    H/W (it is the first letter's own code — after run-collapse this
    implements 'skip leading letters sharing the first letter's
    code'); delete the 0s; prepend the first letter, rpad to 4.
    Empty/no-letter input -> NULL. Verified against an independent
    textbook implementation (tests) on the Ashcraft/Tymczak/Pfister/
    Honeyman corner set and random fuzz."""
    name = F.regexp_replace(F.upper(col), "[^A-Z]", "")
    first = F.substring(name, 1, 1)
    stripped = F.regexp_replace(name, "[HW]", "")
    digits = F.translate(
        stripped,
        "ABCDEFGIJKLMNOPQRSTUVXYZ",
        "012301202245501262301202",
    )
    for d in "0123456":
        digits = F.regexp_replace(digits, f"{d}{d}+", d)
    tail = F.when(first.isin("H", "W"), digits).otherwise(
        F.substring(digits, 2, 0x7FFFFFFF)
    )
    code = F.concat(first, F.regexp_replace(tail, "0", ""))
    return F.when(name != "", F.rpad(F.substring(code, 1, 4), 4, "0"))


def phonetic_keys(docs: DataFrame, name_col: str = "text") -> DataFrame:
    """(block_key, doc_id) on the Soundex code of the FIRST word of
    ``name_col`` — the classic phonetic blocking pass of a
    record-linkage pipeline (names that sound alike land in one
    block regardless of spelling). Map-side only: one projection, no
    shuffle; compose with candidate_pairs / hot_key_census like every
    other key family."""
    first_word = F.element_at(
        F.split(F.trim(F.col(name_col)), r"\s+"), 1
    )
    return docs.select(
        F.concat(F.lit("sx:"), soundex_key(first_word)).alias("block_key"),
        "doc_id",
    ).where(F.col("block_key").isNotNull())
