"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

All operators are pure DataFrame compositions of built-in functions
(shingling via `transform(sequence(...))` higher-order expressions, hashes
via `md5`) — no UDFs, fully codegen'd, and every hash is engine-portable
(md5 over UTF-8) so results are bit-identical across Spark / DuckDB /
any ANSI engine. At scale each stage is one shuffle on an explicit key:

- exact:   groupBy(md5(text))                    — one hash-aggregate
- minhash: explode(shingles) x seeds -> min      — partial aggregation
           (map-side combine) makes the shuffle O(docs x seeds), not
           O(docs x shingles x seeds)
- LSH:     equi-join on (band, signature)        — hot buckets are real
           near-dup clusters; cap with a census like blocking.py if a
           corpus has degenerate boilerplate
- simhash: explode(tokens) x 32 bit positions    — same partial-agg shape
- jaccard: array_intersect on the pair row       — no extra shuffle at all
- cosine:  aggregate(zip_with(...)) on the pair  — JVM-side FMA loop
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def char_shingles(text: Column | str, k: int = 5) -> Column:
    """Distinct lowercase character k-shingles as an array column
    (short strings yield the string itself)."""
    t = F.lower(text if isinstance(text, Column) else F.col(text))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
            lambda i: t.substr(i, F.lit(k)),
        )
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, canonical_id, group_size): canonical = min doc_id among
    byte-identical texts. One hash-aggregate on md5(text) — at 100 TB the
    md5 shuffle key is 32 bytes/doc regardless of document size."""
    from pyspark.sql import Window

    # NULL text must not form one giant "duplicate" cluster (md5(NULL) is
    # NULL and NULLs partition together): a text-less doc is its own group
    w = Window.partitionBy(
        F.coalesce(F.md5(text_col), F.concat(F.lit("null:"), F.col("doc_id")))
    )
    return docs.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", n_hashes: int = 16, k: int = 5
) -> DataFrame:
    """(doc_id, seed, mh): MinHash signature rows. Hash family h_seed(x) =
    md5(seed ':' x) compared lexicographically — portable and uniform.
    Partial aggregation collapses the exploded shingles map-side."""
    sh = docs.select(
        "doc_id", F.explode(char_shingles(text_col, k)).alias("sh")
    )
    return (
        sh.withColumn("seed", F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))))
        .select(
            "doc_id",
            "seed",
            F.md5(F.concat(F.col("seed").cast("string"), F.lit(":"), "sh")).alias("h"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("mh"))
    )


def lsh_band_signatures(
    signatures: DataFrame, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, sig): hash each band of ``rows_per_band`` minhashes.
    collect_list order is made deterministic by sorting the (seed, mh)
    structs before joining."""
    return (
        signatures.withColumn(
            "band", F.floor(F.col("seed") / rows_per_band).cast("int")
        )
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                        lambda x: x["mh"],
                    ),
                    ",",
                )
            ).alias("sig")
        )
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    rows_per_band: int = 4,
    k: int = 5,
    bucket_cap: int | None = 5000,
    hot_cap: int | None = None,
    cache_out: list | None = None,
) -> DataFrame:
    """(id_1, id_2) candidate near-duplicate pairs: docs agreeing on at
    least one LSH band. The join key (band, sig) is the scale lever: more
    bands -> higher recall, bigger buckets; dedup across bands is one
    dropDuplicates hash-aggregate.

    ``bucket_cap``: degenerate buckets (boilerplate-heavy corpora where
    thousands of near-identical docs share a band signature) explode
    quadratically in the self-join; a census over (band, sig) drops
    buckets above the cap — the LSH analogue of blocking.py's drop_cap.
    The census output (hot buckets only) broadcasts.

    ``hot_cap``: when set, pair generation routes through the ER
    pipeline's salted self-join primitive (blocking.candidate_pairs):
    buckets above ``hot_cap`` are salted — their join work spreads over G
    partitions while every pair is still produced exactly once — and only
    buckets above ``bucket_cap`` are dropped. This is the scale-correct
    policy for boilerplate-heavy corpora where mid-size hot buckets are
    real near-dup clusters the drop policy would lose. Pair sets are
    identical to the unsalted path for any buckets below ``bucket_cap``
    (asserted in tests/test_textops.py)."""
    bands = lsh_band_signatures(
        minhash_signatures(docs, text_col, n_hashes, k), rows_per_band
    )
    if hot_cap is not None:
        if bucket_cap is not None and hot_cap >= bucket_cap:
            # the census only sees buckets above hot_cap, so with
            # hot_cap >= bucket_cap the sizes in (bucket_cap, hot_cap]
            # would be neither dropped (docstring contract) nor salted
            raise ValueError(
                f"hot_cap ({hot_cap}) must be < bucket_cap ({bucket_cap}): "
                "buckets are salted above hot_cap and dropped above "
                "bucket_cap"
            )
        from ..pipeline import blocking

        keys = bands.select(
            F.concat_ws(
                ":", F.col("band").cast("string"), F.col("sig")
            ).alias("block_key"),
            "doc_id",
        )
        pairs = blocking.candidate_pairs(
            keys,
            hot_cap=hot_cap,
            drop_cap=bucket_cap if bucket_cap is not None else (1 << 31),
            cache_out=cache_out,
        )
        return pairs.select(
            F.col("doc_id_1").alias("id_1"), F.col("doc_id_2").alias("id_2")
        )
    if bucket_cap is not None:
        hot = (
            bands.groupBy("band", "sig")
            .count()
            .where(F.col("count") > bucket_cap)
            .select("band", "sig")
        )
        bands = bands.join(F.broadcast(hot), ["band", "sig"], "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band", "sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_1"), F.col("b.doc_id").alias("id_2")
        )
        .dropDuplicates(["id_1", "id_2"])
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """(doc_id, simhash): ``bits``-bit SimHash as a bitstring. Token bit j
    = high bit of hex nibble j of the token's hash material; document bit
    j = majority vote (sum of +-1 > 0). Bitstring (not bigint) keeps it
    portable and makes Hamming-distance banding a substring groupBy.

    One md5 supplies 32 nibbles; for bits > 32 the hash material is
    extended with independent blocks md5('<i>:' || token) — without this,
    positions 33+ would read substring('') and every doc's tail bits
    would silently vote to constant 0.

    Plan shape: ZERO shuffles. The token set already sits on the row, so
    the hash material is computed once per distinct token (an inner
    ``transform``) and the ``bits`` majority votes fold over it with a
    nested ``aggregate`` — the whole sketch is one map-side projection
    inside whole-stage codegen. (The original formulation exploded
    (doc, token, pos) — corpus_tokens x bits rows — through two hash
    aggregates; at 10^12 docs that shuffle dwarfed the banded join this
    sketch feeds. Same output bit-for-bit: the driver oracle
    `simhash_sketch` and the banding equivalence tests pin it.)

    Documents with no tokens are excluded, matching the exploded
    formulation (they carry no vote evidence)."""
    n_blocks = (bits + 31) // 32

    def hex_material(tok: Column) -> Column:
        h = F.md5(tok)
        for i in range(1, n_blocks):
            h = F.concat(h, F.md5(F.concat(F.lit(f"{i}:"), tok)))
        return h

    toks = F.array_distinct(
        F.filter(
            F.split(F.lower(text_col), r"\s+"),
            lambda x: F.length(x) > 0,
        )
    )
    high = list("89abcdef")
    sketch = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda pos: F.when(
                F.aggregate(
                    F.col("__hexes"),
                    F.lit(0),
                    lambda acc, h: acc
                    + F.when(
                        F.substring(h, pos, F.lit(1)).isin(*high), 1
                    ).otherwise(-1),
                )
                > 0,
                F.lit("1"),
            ).otherwise(F.lit("0")),
        ),
        "",
    )
    return (
        docs.select(
            "doc_id", F.transform(toks, hex_material).alias("__hexes")
        )
        .where(F.size("__hexes") > 0)
        .select("doc_id", sketch.alias("simhash"))
    )


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """All document pairs whose ``bits``-bit SimHash sketches differ in at
    most ``max_hamming`` bit positions — the classic Charikar/Manku-style
    near-duplicate join (Manku, Jain & Sarma, WWW 2007): split each sketch
    into ``max_hamming + 1`` bands; by pigeonhole, any pair within the
    Hamming budget agrees EXACTLY on at least one band, so an equi-join on
    (band_index, band_bits) finds every qualifying pair (no recall loss —
    unlike MinHash LSH this banding is lossless for the Hamming predicate),
    and a per-pair Hamming verify discards the false candidates. Output:
    one row per unordered pair, ``(id_1, id_2, hamming)`` with
    ``id_1 < id_2`` and ``hamming <= max_hamming``.

    Plan shape at 100 TB: sketches come from :func:`simhash` (one token
    explode + partial-agg); the candidate generation is ONE equi-join
    keyed on (band, 16-bit substring) — docs never pair across band
    buckets, so cost is sum over buckets of C(bucket, 2), not C(N, 2).
    Degenerate corpora (boilerplate-dominated, tiny shared vocabularies)
    produce hot band buckets exactly as hot blocking keys do in
    pipeline/blocking.py; ``max_bucket`` applies the same census drop-cap
    (buckets larger than the cap are dropped BEFORE the self-join, trading
    recall for a hard bound on candidate volume — at the default None the
    join is exact). The verify is a map-side zip over the two bitstrings
    on the pair row (codegen, no UDF, no extra shuffle beyond the pair
    dedup on (id_1, id_2))."""
    n_bands = max_hamming + 1
    # lazy lineage cut: both sides of the self-join read the SAME sketch
    # materialization instead of re-running the token explode + 2 aggs
    # twice (the training_export recompute lesson — training.py:970)
    sk = simhash(docs, text_col=text_col, bits=bits).localCheckpoint(
        eager=False
    )
    base, rem = divmod(bits, n_bands)
    bands, start = [], 1
    for i in range(n_bands):
        ln = base + (1 if i < rem else 0)
        bands.append(
            F.struct(
                F.lit(i).alias("band"),
                F.substring("simhash", start, ln).alias("key"),
            )
        )
        start += ln
    banded = sk.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*bands)).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    if max_bucket is not None:
        census = banded.groupBy("band", "key").agg(
            F.count("*").alias("__bucket_n")
        )
        banded = (
            banded.join(census, ["band", "key"])
            .where(F.col("__bucket_n") <= max_bucket)
            .drop("__bucket_n")
        )
    left = banded.select(
        "band", "key", F.col("doc_id").alias("id_1"), F.col("simhash").alias("h1")
    )
    right = banded.select(
        "band", "key", F.col("doc_id").alias("id_2"), F.col("simhash").alias("h2")
    )
    cand = (
        left.join(right, ["band", "key"])
        .where(F.col("id_1") < F.col("id_2"))
        .dropDuplicates(["id_1", "id_2"])
    )
    hamming = F.size(
        F.filter(
            F.zip_with(
                F.split("h1", ""), F.split("h2", ""), lambda a, b: a != b
            ),
            lambda x: x,
        )
    )
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_1", "id_2", "hamming")
    )


def ngram_jaccard(
    pairs: DataFrame, t1: str = "t1", t2: str = "t2", n: int = 3
) -> Column:
    """Jaccard similarity of character n-gram sets, computed entirely on
    the pair row with array_intersect — zero additional shuffle."""
    s1, s2 = char_shingles(t1, n), char_shingles(t2, n)
    inter = F.size(F.array_intersect(s1, s2))
    union = F.size(s1) + F.size(s2) - inter
    return F.round(inter.cast("double") / union, 6)


def cosine_similarity(e1: Column | str, e2: Column | str) -> Column:
    """Cosine over array<float> embeddings, cast element-wise to double
    first so the sequential JVM fold is bit-reproducible; all higher-order
    built-ins, no UDF."""
    a = F.transform(
        e1 if isinstance(e1, Column) else F.col(e1), lambda x: x.cast("double")
    )
    b = F.transform(
        e2 if isinstance(e2, Column) else F.col(e2), lambda x: x.cast("double")
    )

    def dot(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    # zero-norm guard: an all-zero embedding (failed encoder, padding) has
    # no direction — define its similarity as 0.0 instead of aborting the
    # job under ANSI-mode division (Spark 4 default)
    denom = F.sqrt(dot(a, a)) * F.sqrt(dot(b, b))
    return F.coalesce(dot(a, b) / F.nullif(denom, F.lit(0.0)), F.lit(0.0))


def embedding_near_duplicates(
    embeddings: DataFrame, threshold: float = 0.9, block_col: str = "label"
) -> DataFrame:
    """(id_1, id_2, cos_sim) pairs above ``threshold``, blocked on
    ``block_col`` (at scale: an LSH bucket from ann.hyperplane_buckets;
    here the coarse label works the same way). The threshold filter sits
    directly on the join output so Catalyst keeps it inside the same
    stage."""
    e = embeddings.select("vec_id", "embedding", F.col(block_col).alias("blk"))
    a, b = e.alias("a"), e.alias("b")
    cos = cosine_similarity(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(b, "blk")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_1"),
            F.col("b.vec_id").alias("id_2"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def word_ngram_hashes(
    text: Column | str, n: int = 8, lowercase: bool = True
) -> Column:
    """md5 hashes of overlapping word n-grams as an array column (empty
    when the document has fewer than ``n`` tokens). Tokens are the
    non-empty ``\\s+`` splits — the same tokenization as
    quality.token_counts, so per-doc stats line up across operators."""
    t = text if isinstance(text, Column) else F.col(text)
    if lowercase:
        t = F.lower(t)
    toks = F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != F.lit(""))
    # Spark's sequence(1, stop) DESCENDS for stop < 1 (it never yields an
    # empty array), so short docs need an explicit empty-array branch
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))


def duplicate_ngram_fraction(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """(doc_id, n_ngrams, n_dup, dup_frac): per-document fraction of word
    n-gram positions whose n-gram also occurs in >= ``min_docs`` distinct
    documents — the duplicate-span signal substring-dedup pipelines
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better") threshold on before dropping or trimming documents.

    Plan shape at scale — ONE corpus scan/explode: the exploded gram
    hashes pre-aggregate to (doc_id, h, occurrences) map-side, the
    distinct-doc count per gram is then a count(*) over those unique
    (doc, gram) rows (no count-distinct expansion), and both per-doc
    sums come from one join of the two aggregates on the 16-byte md5 key.
    Nothing is quadratic in documents and no gram text — only its md5 —
    ever shuffles; a degenerate boilerplate gram contributes one row per
    DOCUMENT to the join, not one per occurrence, and AQE's skew split
    handles the hot hash."""
    grams = docs.select(
        "doc_id", F.explode(word_ngram_hashes(text_col, n)).alias("h")
    )
    # one row per (doc, gram): occ carries within-doc repeats
    per_doc_gram = grams.groupBy("doc_id", "h").agg(F.count("*").alias("occ"))
    df_tbl = per_doc_gram.groupBy("h").agg(F.count("*").alias("gram_df"))
    per_doc = (
        per_doc_gram.join(df_tbl, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_ngrams"),
            F.sum(
                F.when(F.col("gram_df") >= min_docs, F.col("occ")).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup"),
        )
    )
    # docs with fewer than n tokens have zero grams: restore them with 0s
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            F.round(
                F.when(
                    F.coalesce("n_ngrams", F.lit(0)) > 0,
                    F.col("n_dup") / F.col("n_ngrams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def excise_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    keep_canonical: bool = True,
) -> DataFrame:
    """Corpus-INTERNAL duplicate-span excision — the removal half of the
    Lee et al. 2022 substring-dedup pipeline whose signal half is
    ``duplicate_ngram_fraction``: cut every word ``n``-gram span whose
    gram occurs in at least ``min_docs`` DISTINCT documents, keeping the
    rest of each document. Returns one row per input document:
    ``(doc_id, n_matched, n_removed, clean_text)`` with the same span
    semantics as training.excise_contaminated_spans (a matched gram at
    token position p removes tokens [p, p+n-1]; overlapping spans merge;
    ``clean_text`` is the surviving normalized tokens; NULL text stays
    NULL with zero counts).

    With ``keep_canonical`` (default, the Lee et al. keep-one policy)
    the duplicated span SURVIVES in the gram's canonical document — the
    minimum doc_id among those containing it — and is cut everywhere
    else, so no text is lost from the corpus, only repeated. Canonicity
    is per gram position: a document canonical for one gram of an
    overlapping run but not another keeps only the tokens its own grams
    cover. ``keep_canonical=False`` cuts every copy (the aggressive
    boilerplate-removal variant).

    Plan shape at 10^12 docs — the corpus is gram-exploded ONCE, and
    only 16-byte hashes + int positions ever shuffle (never gram text):
    the position stream pre-aggregates map-side to one row per
    (doc, gram) carrying its in-doc position list; the document-
    frequency census is a count(*)/min() over those unique rows (no
    count-distinct expansion — same trick as duplicate_ngram_fraction);
    the dup-gram join back is hash-partitioned on the md5 key, where a
    boilerplate gram contributes one row per DOCUMENT, not one per
    occurrence, and AQE's skew split covers the hot hash. The excision
    itself is the shared map-side higher-order filter. Unlike
    eval-decontamination there is no broadcast-sized side to probe —
    the cross-document census shuffle IS the algorithm (you cannot know
    a span repeats without comparing across documents), which is why
    this operator's cost anchors the curation pipeline the same way the
    LSH band join does.
    """
    g = docs.select(
        "doc_id",
        F.posexplode(word_ngram_hashes(text_col, n=n)).alias("gpos", "h"),
    )
    # one row per (doc, gram) with its in-doc positions: the ONLY
    # corpus-sized shuffle, and it carries ints + hashes only
    per_doc_gram = g.groupBy("doc_id", "h").agg(
        F.sort_array(F.collect_list("gpos")).alias("poss")
    )
    census = per_doc_gram.groupBy("h").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("canon")
    )
    m = per_doc_gram.join(
        census.where(F.col("n_docs") >= min_docs).select("h", "canon"), "h"
    )
    if keep_canonical:
        m = m.where(F.col("doc_id") != F.col("canon"))
    per = m.groupBy("doc_id").agg(
        F.sort_array(F.flatten(F.collect_list("poss"))).alias("mstarts"),
        F.sum(F.size("poss")).alias("n_matched"),
    )
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    withm = docs.join(per, "doc_id", "left").select(
        "doc_id",
        toks.alias("tk"),
        F.coalesce("mstarts", F.array().cast("array<int>")).alias("ms"),
        F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
    )
    clean = F.filter(
        F.col("tk"),
        lambda x, i: ~F.exists(F.col("ms"), lambda s: (i >= s) & (i < s + n)),
    )
    return withm.select(
        "doc_id",
        "n_matched",
        F.when(F.col("tk").isNull(), F.lit(0))
        .otherwise(F.size("tk") - F.size(clean))
        .alias("n_removed"),
        F.array_join(clean, " ").alias("clean_text"),
    )


def near_duplicate_prune(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    rows_per_band: int = 4,
    k: int = 5,
    jaccard_n: int = 3,
    jaccard_threshold: float = 0.6,
    bucket_cap: int | None = None,
    hot_cap: int | None = None,
) -> DataFrame:
    """(doc_id, canonical_id, keep): the composite near-dup pruning
    pipeline a training-data run actually executes — MinHash+LSH
    candidates -> exact character-n-gram Jaccard verification ->
    connected components over verified edges -> keep one canonical
    document (min doc_id) per near-dup cluster.

    Each stage reuses the scale-audited primitive: LSH banding is a
    bucket equi-join (never all-pairs; ``hot_cap``/``bucket_cap`` salt or
    drop degenerate buckets), verification is per-pair on-row
    ``array_intersect`` (zero extra shuffle beyond the text attach), and
    clustering is the large-star/small-star fixpoint shared with the ER
    pipeline — O(log n) rounds, no driver-side state."""
    from ..pipeline.cluster import connected_components

    cand = minhash_lsh_candidates(
        docs,
        text_col,
        n_hashes=n_hashes,
        rows_per_band=rows_per_band,
        k=k,
        bucket_cap=bucket_cap,
        hot_cap=hot_cap,
    )
    texts = docs.select("doc_id", F.col(text_col).alias("__t"))
    pairs = (
        cand.join(texts.withColumnRenamed("doc_id", "id_1"), "id_1")
        .withColumnRenamed("__t", "t1")
        .join(texts.withColumnRenamed("doc_id", "id_2"), "id_2")
        .withColumnRenamed("__t", "t2")
    )
    edges = pairs.where(
        ngram_jaccard(pairs, "t1", "t2", n=jaccard_n)
        >= F.lit(float(jaccard_threshold))
    ).select(F.col("id_1").alias("doc_id_1"), F.col("id_2").alias("doc_id_2"))
    comp = connected_components(edges)
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("entity_id", "doc_id").alias("canonical_id"),
        )
        .withColumn("keep", (F.col("doc_id") == F.col("canonical_id")))
    )


def content_defined_chunks(
    docs: DataFrame,
    text_col: str = "text",
    w: int = 8,
    mask: int = 31,
) -> DataFrame:
    """(doc_id, chunk_idx, chunk): content-defined chunking — split every
    document at positions where the rolling window hash satisfies
    ``h % (mask+1) == 0`` (expected chunk length ``mask+1``). Chunks
    concatenated in ``chunk_idx`` order reconstruct the document exactly.
    Because boundaries depend only on local content, a shared passage
    chunks identically regardless of where it sits in each document — the
    property fixed-size blocking lacks and the reason CDC is the standard
    dedup/storage primitive for shifted duplicates.

    This formulation is Catalyst-only and engine-portable: the window
    hash is md5 of the w-gram (DuckDB reproduces it bit-for-bit), at the
    cost of one md5 per character. That is the correct trade for an
    oracle-verifiable operator at test scale; at 100 TB swap the
    boundary predicate for a gear/Rabin rolling hash inside a
    mapInPandas batch (same chunk semantics, O(1) per character) — the
    downstream explode + hash-aggregate, which is where the shuffle and
    skew live, is identical for both.
    """
    t = F.col(text_col)
    # Spark's sequence(1, stop) DESCENDS for stop < 1: docs shorter than
    # the window have no boundary candidates, so give them an empty list
    positions = F.when(
        F.length(t) >= w, F.sequence(F.lit(1), F.length(t) - (w - 1))
    ).otherwise(F.array().cast("array<int>"))
    # boundary AFTER position i+w-1 when the w-gram at i hashes to 0 mod
    # (mask+1); cuts are sorted, distinct, and always include len(t)
    cuts = F.array_sort(
        F.array_distinct(
            F.concat(
                F.filter(
                    F.transform(
                        F.filter(
                            positions,
                            lambda i: F.conv(
                                F.substring(F.md5(t.substr(i, F.lit(w))), 1, 8),
                                16,
                                10,
                            ).cast("long")
                            % (mask + 1)
                            == 0,
                        ),
                        lambda i: i + (w - 1),
                    ),
                    lambda c: c < F.length(t),
                ),
                F.array(F.length(t)),
            )
        )
    )
    chunks = (
        docs.where(F.length(t) >= 1)
        .select(
            "doc_id",
            # zip_with pads the longer side with null: lows has one extra
            # leading 0, so its final (lo=len, hi=null) pair yields a null
            # chunk, dropped by the length filter below
            F.posexplode(
                F.zip_with(
                    F.concat(F.array(F.lit(0)), cuts),
                    cuts,
                    lambda lo, hi: t.substr(lo + 1, hi - lo),
                )
            ).alias("chunk_idx", "chunk"),
        )
        .where(F.length("chunk") > 0)
    )
    return chunks


def cdc_chunk_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    w: int = 8,
    mask: int = 31,
    min_occurrences: int = 2,
) -> DataFrame:
    """(chunk_hash, n_docs, n_occurrences, chunk_len): chunks from
    ``content_defined_chunks`` that recur across the corpus — one
    hash-aggregate on the 32-byte chunk md5, partial aggregation
    collapsing within-partition repeats map-side."""
    chunks = content_defined_chunks(docs, text_col, w, mask)
    return (
        chunks.groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.max(F.length("chunk")).alias("chunk_len"),
        )
        .where(F.col("n_occurrences") >= min_occurrences)
    )


def incremental_lsh_candidates(
    base_docs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    rows_per_band: int = 4,
    k: int = 5,
    bucket_cap: int | None = 5000,
    broadcast_increment: bool = True,
) -> DataFrame:
    """(id_1, id_2): near-duplicate candidate pairs involving at least
    one NEW document — the incremental form of ``minhash_lsh_candidates``
    for a corpus that grows by increments (the dedup analogue of
    pipeline/incremental.link_increment).

    The pair set is EXACTLY the full-corpus LSH pair set minus the
    base x base pairs (signatures are a pure per-doc function of text, so
    banding the increment separately changes nothing — locked by
    tests/test_textops.py): new x base candidates come from joining the
    increment's band signatures against the base's, new x new from the
    increment self-join. At scale the base's signatures are a persisted
    table computed once (re-banding 10^12 docs per increment would dwarf
    the increment itself); the base corpus is never rescanned or
    reshuffled — with ``broadcast_increment`` the increment's bands ship
    to the base's partitions, so the big side never moves at all.

    ``bucket_cap`` drops degenerate buckets by their size in the UNION
    corpus (base members + new members), matching what the full-corpus
    run would drop — a bucket just under cap in the base must not
    survive the increment pushing it over. Note the census this needs
    re-aggregates the base bands per increment: at large base scale,
    maintain the per-bucket counts as a table alongside the persisted
    bands (``update_bucket_counts`` per increment) and enter at
    ``incremental_band_pairs_maintained`` — the cap then comes from the
    counts table and the base bands are never aggregated, only
    anti-join-filtered and bucket-joined."""
    base_bands = lsh_band_signatures(
        minhash_signatures(base_docs, text_col, n_hashes, k), rows_per_band
    )
    new_bands = lsh_band_signatures(
        minhash_signatures(new_docs, text_col, n_hashes, k), rows_per_band
    )
    return incremental_band_pairs(
        base_bands, new_bands, bucket_cap, broadcast_increment
    )


def incremental_band_pairs(
    base_bands: DataFrame,
    new_bands: DataFrame,
    bucket_cap: int | None = 5000,
    broadcast_increment: bool = True,
) -> DataFrame:
    """Band-level core of ``incremental_lsh_candidates``: candidate pairs
    from pre-computed (doc_id, band, sig) tables — new x base bucket join
    plus new x new self-join. Callers that persist band signatures
    (streaming state, checkpointed batch increments) enter here so the
    base corpus is never re-banded."""
    if bucket_cap is not None:
        counts = (
            base_bands.groupBy("band", "sig")
            .count()
            .unionByName(new_bands.groupBy("band", "sig").count())
            .groupBy("band", "sig")
            .agg(F.sum("count").alias("n"))
            .where(F.col("n") > bucket_cap)
            .select("band", "sig")
        )
        base_bands = base_bands.join(
            F.broadcast(counts), ["band", "sig"], "left_anti"
        )
        new_bands = new_bands.join(
            F.broadcast(counts), ["band", "sig"], "left_anti"
        )
    nb = F.broadcast(new_bands) if broadcast_increment else new_bands
    cross = (
        nb.alias("a")
        .join(base_bands.alias("b"), ["band", "sig"])
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_1"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_2"),
        )
        # base and increment are disjoint by contract; if a caller feeds a
        # doc to both (e.g. a replayed increment), drop the self-pair
        # rather than emitting (x, x)
        .where(F.col("id_1") < F.col("id_2"))
    )
    self_pairs = (
        new_bands.alias("a")
        .join(new_bands.alias("b"), ["band", "sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_1"), F.col("b.doc_id").alias("id_2")
        )
    )
    return cross.unionByName(self_pairs).dropDuplicates(["id_1", "id_2"])


def update_bucket_counts(
    counts: DataFrame | None, new_bands: DataFrame
) -> DataFrame:
    """Maintain the per-(band, sig) bucket census across increments:
    fold one increment's band signatures into the running counts table.
    ``counts`` is the census so far (``(band, sig, n)``; None for an
    empty base) and the return value is the census of base ∪ increment —
    by induction, folding every increment reproduces exactly the fresh
    ``groupBy(band, sig).count()`` of all bands ever seen (locked by
    tests/test_textops.py::test_maintained_counts_match_fresh_census).

    This is the companion table that makes ``bucket_cap`` free for
    incremental LSH at corpus scale: the census is increment-invariant
    (signatures are a pure function of text), so it is maintained as a
    table alongside the persisted bands instead of re-aggregated from
    10^12 docs' bands on every increment. The only aggregations here
    touch the increment's bands and the counts table itself (one row
    per DISTINCT bucket — vastly smaller than the band table, and the
    merge is partial-agg friendly on the same (band, sig) key)."""
    inc = new_bands.groupBy("band", "sig").agg(F.count("*").alias("n"))
    if counts is None:
        return inc
    return (
        counts.unionByName(inc)
        .groupBy("band", "sig")
        .agg(F.sum("n").alias("n"))
    )


def incremental_band_pairs_maintained(
    base_bands: DataFrame,
    new_bands: DataFrame,
    counts: DataFrame | None,
    bucket_cap: int = 5000,
    broadcast_increment: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """``incremental_band_pairs`` with the bucket cap served from a
    MAINTAINED counts table instead of a per-increment re-census of the
    base: returns ``(pairs, updated_counts)`` where ``updated_counts``
    is ``update_bucket_counts(counts, new_bands)`` — persist it
    alongside the band table for the next increment.

    Scale contract this buys: the base band table is never aggregated —
    its only consumers are a broadcast anti-join against the (tiny,
    ``n > bucket_cap``) hot-bucket list and the bucket equi-join itself,
    so each increment's cost is O(increment + matched buckets)
    regardless of base size (plan-locked by
    tests/test_plans.py::test_maintained_counts_never_aggregate_base).
    The pair set is identical to ``incremental_band_pairs(bucket_cap)``
    with a fresh census, because the updated counts table IS that
    census (see update_bucket_counts)."""
    updated = update_bucket_counts(counts, new_bands)
    hot = updated.where(F.col("n") > bucket_cap).select("band", "sig")
    base_f = base_bands.join(F.broadcast(hot), ["band", "sig"], "left_anti")
    new_f = new_bands.join(F.broadcast(hot), ["band", "sig"], "left_anti")
    pairs = incremental_band_pairs(
        base_f, new_f, bucket_cap=None, broadcast_increment=broadcast_increment
    )
    return pairs, updated


def _rarity_ordered_sets(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, toks, n): each doc's distinct lowercase whitespace
    tokens sorted by ascending global document frequency (ties by
    token — a deterministic total order shared by every doc), lazily
    checkpointed because the prefix explode AND both verify-side array
    attaches read the SAME materialization instead of re-running the
    token explode + census join + regroup three times (the simhash
    sketch / training_export recompute lesson). Shared by every
    prefix-filter set-similarity join (Jaccard / cosine / dice /
    overlap)."""
    t = F.lower(F.col(text_col))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(t, r"\s+"))
        ).alias("tok"),
    ).where(F.length("tok") >= 1)
    df_census = toks.groupBy("tok").agg(F.count("*").alias("df"))
    return (
        toks.join(df_census, "tok")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("df", "tok"))
            ).alias("ord_toks")
        )
        .select(
            "doc_id",
            F.col("ord_toks.tok").alias("toks"),
            F.size("ord_toks").alias("n"),
        )
        .localCheckpoint(eager=False)
    )


def prefix_filter_jaccard_join(
    docs: DataFrame,
    text_col: str = "text",
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT token-set Jaccard self-join via AllPairs/PPJoin prefix
    filtering (Chaudhuri et al. ICDE 2006; Bayardo et al. WWW 2007;
    Xiao et al. TODS 2011) — every pair with Jaccard >= t, NO false
    negatives (unlike MinHash-LSH) and no quadratic all-pairs work.

    Prefix-filter principle: order each doc's distinct tokens by
    ascending global document frequency (rarest first, ties by token —
    a deterministic total order shared by every doc). If two sets have
    Jaccard >= t, each must match the other outside its first
    ``L = n - ceil(t*n) + 1`` tokens' complement — i.e. the two PREFIXES
    must share at least one token. So only prefix tokens are indexed,
    and the candidate join key is the RAREST part of the vocabulary:
    the operator is anti-skew by construction (the stopword head that
    wrecks plain token blocking is exactly what the prefix excludes
    for any doc with enough rarer tokens).

    The threshold is a RATIONAL num/den: prefix length uses exact
    integer ceil (no float boundary), the length filter den*|y| >=
    num*|x| and the final verification den*inter >= num*union are
    exact integer cross-multiplications — bit-identical in any engine,
    which is what lets the oracle be the naive all-pairs definition
    (the gate then checks the filter's losslessness itself).

    Scale shape: one token-keyed shuffle for the df census + ordering
    join, one doc-keyed regroup to sort/slice the prefix (collect_list
    of (df, tok) structs, partial-agg'd), one equi-join on prefix
    tokens (bounded, rare-key blocks), pair dedup, then two id-keyed
    array attaches for the exact verify. Output:
    (doc_id_1, doc_id_2, inter_sz, union_sz, jacc) for pairs >= t.
    """
    ordered = _rarity_ordered_sets(docs, text_col)
    # L = n - ceil(num*n/den) + 1, exact integer ceil: ceil(a/b) =
    # floor((a + b - 1) / b) for positive ints
    L = (
        F.col("n")
        - F.floor(
            (F.lit(threshold_num) * F.col("n") + threshold_den - 1)
            / threshold_den
        )
        + 1
    ).cast("int")
    prefixes = ordered.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("toks", 1, L)).alias("pos0", "ptok"),
    )
    a = prefixes.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("n").alias("n1"),
        (F.col("pos0") + 1).alias("i"),
        "ptok",
    )
    b = prefixes.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("n").alias("n2"),
        (F.col("pos0") + 1).alias("j"),
        "ptok",
    )
    # required overlap for Jaccard >= num/den: o = ceil(num*(n1+n2) /
    # (num+den)) — exact integer ceil again
    o_req = F.floor(
        (
            F.lit(threshold_num) * (F.col("n1") + F.col("n2"))
            + (threshold_num + threshold_den)
            - 1
        )
        / (threshold_num + threshold_den)
    )
    cands = (
        a.join(b, "ptok")
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        # size filter: t*|x| <= |y| given |x| <= |y| — exact integers
        .where(
            F.lit(threshold_den) * F.least("n1", "n2")
            >= F.lit(threshold_num) * F.greatest("n1", "n2")
        )
        # PPJoin positional filter (Xiao et al. TODS'11 §3.2): a shared
        # prefix token at (1-based) positions i, j bounds the overlap by
        # 1 + min(n1-i, n2-j); rows that cannot reach o_req are dropped
        # BEFORE the pair-dedup exchange — the pair still survives iff
        # its FIRST shared prefix token passes (maximal bound), so the
        # join stays lossless while the shuffle sheds the long tail of
        # single-shared-deep-token collisions
        .where(
            F.lit(1)
            + F.least(
                F.col("n1") - F.col("i"), F.col("n2") - F.col("j")
            )
            >= o_req
        )
        .select("doc_id_1", "doc_id_2")
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )
    sets = ordered.select("doc_id", "toks")
    verified = (
        cands.join(
            sets.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("toks").alias("toks_1"),
            ),
            "doc_id_1",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_id_2"),
                F.col("toks").alias("toks_2"),
            ),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            F.size(F.array_intersect("toks_1", "toks_2"))
            .cast("long")
            .alias("inter_sz"),
            (
                F.size("toks_1") + F.size("toks_2")
                - F.size(F.array_intersect("toks_1", "toks_2"))
            ).cast("long").alias("union_sz"),
        )
        .where(
            F.lit(threshold_den) * F.col("inter_sz")
            >= F.lit(threshold_num) * F.col("union_sz")
        )
    )
    return verified.select(
        "doc_id_1",
        "doc_id_2",
        "inter_sz",
        "union_sz",
        F.round(
            F.col("inter_sz").cast("double") / F.col("union_sz"), 6
        ).alias("jacc"),
    )


def prefix_filter_set_join(
    docs: DataFrame,
    text_col: str = "text",
    measure: str = "cosine",
    threshold_num: int = 7,
    threshold_den: int = 10,
) -> DataFrame:
    """EXACT token-set similarity self-join for the other three set
    measures of the AllPairs/PPJoin family — ``cosine``
    (I/sqrt(n1*n2)), ``dice`` (2I/(n1+n2)), and ``overlap`` (absolute
    I >= c) — completing ``prefix_filter_jaccard_join`` into the full
    similarity-join family of Bayardo et al. WWW'07 / Xiao et al.
    TODS'11. Same guarantees: every qualifying pair, NO false
    negatives, no all-pairs work, candidates drawn only from each
    doc's rarest tokens (anti-skew by construction).

    All filter math is EXACT INTEGER on the rational threshold
    t = num/den (for ``overlap``, threshold_num is the absolute
    required intersection c and threshold_den is ignored):

    - cosine: prefix L = n - ceil(num^2*n/den^2) + 1; pair length
      filter den^2*min^2 >= num^2*n1*n2 (squaring is monotone for
      nonneg ints); required overlap o = the SMALLEST integer with
      den^2*o^2 >= num^2*n1*n2, computed as a float-sqrt seed
      corrected by +-1 integer probes — float sqrt of a <=2^47
      integer errs by <1, so the probes make the bound exact;
      verify den^2*I^2 >= num^2*n1*n2.
    - dice: prefix L = n - ceil(num*n/(2*den-num)) + 1 (valid for
      t in (0,1]: minimal partner size is t/(2-t)*n); length filter
      (2*den-num)*min >= num*max; o = ceil(num*(n1+n2)/(2*den));
      verify 2*den*I >= num*(n1+n2).
    - overlap: prefix L = max(n - c + 1, 0); length filter
      min(n1,n2) >= c; o = c; verify I >= c.

    The oracle for the driver query is the naive all-pairs definition
    with the SAME integer verifies, so the gate checks the filter
    chain's losslessness itself (the ppjoin_jaccard proof shape).
    Scale shape identical to the Jaccard join: census + regroup +
    bounded rare-token equi-join + pair dedup + two id-keyed array
    attaches; one shared (doc_id, toks, n) materialization.
    """
    if measure not in ("cosine", "dice", "overlap"):
        raise ValueError(f"unknown measure: {measure!r}")
    num, den = int(threshold_num), int(threshold_den)
    if measure == "overlap":
        if num < 1:
            raise ValueError(f"overlap needs threshold_num >= 1, got {num}")
    elif not 0 < num <= den:
        raise ValueError(
            f"{measure} needs 0 < threshold_num <= threshold_den, "
            f"got {num}/{den}"
        )
    ordered = _rarity_ordered_sets(docs, text_col)
    n = F.col("n")
    if measure == "cosine":
        # ceil(num^2 * n / den^2) via floor((a + b - 1) / b)
        L = n - F.floor(
            (F.lit(num * num) * n + den * den - 1) / (den * den)
        ) + 1
    elif measure == "dice":
        d2 = 2 * den - num
        L = n - F.floor((F.lit(num) * n + d2 - 1) / d2) + 1
    else:  # overlap
        L = F.greatest(n - F.lit(num) + 1, F.lit(0))
    prefixes = ordered.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("toks", 1, L.cast("int"))).alias("pos0", "ptok"),
    )
    a = prefixes.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("n").alias("n1"),
        (F.col("pos0") + 1).alias("i"),
        "ptok",
    )
    b = prefixes.select(
        F.col("doc_id").alias("doc_id_2"),
        F.col("n").alias("n2"),
        (F.col("pos0") + 1).alias("j"),
        "ptok",
    )
    n1, n2 = F.col("n1").cast("long"), F.col("n2").cast("long")
    mn, mx = F.least(n1, n2), F.greatest(n1, n2)
    if measure == "cosine":
        s = F.lit(num * num) * n1 * n2
        len_ok = F.lit(den * den) * mn * mn >= s
        seed = F.floor(
            (F.floor(F.sqrt(s.cast("double"))) + den - 1) / den
        ).cast("long")
        lo = F.greatest(seed - 1, F.lit(0))

        def _valid(i_col):
            return F.lit(den * den) * i_col * i_col >= s

        o_req = (
            F.when(_valid(lo), lo)
            .when(_valid(seed), seed)
            .otherwise(seed + 1)
        )
    elif measure == "dice":
        len_ok = F.lit(2 * den - num) * mn >= F.lit(num) * mx
        o_req = F.floor(
            (F.lit(num) * (n1 + n2) + 2 * den - 1) / (2 * den)
        )
    else:  # overlap
        len_ok = mn >= F.lit(num)
        o_req = F.lit(num)
    cands = (
        a.join(b, "ptok")
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        .where(len_ok)
        # PPJoin positional filter — lossless for the pair because its
        # FIRST shared prefix token carries the maximal bound
        .where(
            F.lit(1)
            + F.least(F.col("n1") - F.col("i"), F.col("n2") - F.col("j"))
            >= o_req
        )
        .select("doc_id_1", "doc_id_2")
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )
    sets = ordered.select("doc_id", "toks")
    attached = (
        cands.join(
            sets.select(
                F.col("doc_id").alias("doc_id_1"), F.col("toks").alias("toks_1")
            ),
            "doc_id_1",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_id_2"), F.col("toks").alias("toks_2")
            ),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            F.size(F.array_intersect("toks_1", "toks_2"))
            .cast("long")
            .alias("inter_sz"),
            F.size("toks_1").cast("long").alias("n1"),
            F.size("toks_2").cast("long").alias("n2"),
        )
    )
    I = F.col("inter_sz")
    vn1, vn2 = F.col("n1"), F.col("n2")
    if measure == "cosine":
        keep = F.lit(den * den) * I * I >= F.lit(num * num) * vn1 * vn2
        sim = F.round(
            I.cast("double") / F.sqrt((vn1 * vn2).cast("double")), 6
        )
    elif measure == "dice":
        keep = F.lit(2 * den) * I >= F.lit(num) * (vn1 + vn2)
        sim = F.round(F.lit(2) * I.cast("double") / (vn1 + vn2), 6)
    else:
        keep = I >= F.lit(num)
        sim = F.round(I.cast("double") / F.least(vn1, vn2), 6)
    return attached.where(keep).select(
        F.lit(measure).alias("measure"),
        "doc_id_1",
        "doc_id_2",
        "inter_sz",
        "n1",
        "n2",
        sim.alias("sim"),
    )
