"""Training-export operators: the last mile from a curated corpus to
training batches — benchmark decontamination, language-temperature
resampling, token-budget sequence packing, and deterministic shard
shuffling.

These four compose in exactly that order in a real LM-data pipeline:
drop eval-set contamination, rebalance the language mix, pack documents
into fixed token budgets, and assign every pack/doc a reproducible
(shard, position) for the training reader. Everything here is pure
Catalyst (no Python rows) and deterministic (md5-derived draws, no RNG),
so re-runs, resumed runs, and independent SQL engines reproduce the same
selection bit-for-bit — the same policy as textops/sampling.py.

Scale notes per operator are on the docstrings; the common theme is that
the only data-sized shuffles are hash-partitioned aggregations/joins on
high-cardinality keys (doc_id, token, shard), never a global sort and
never a driver collect.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import span_excision, word_ngram_hashes, word_tokens
from .sampling import md5_uniform

__all__ = [
    "decontaminate",
    "decontaminate_fraction",
    "decontamination_report",
    "excise_contaminated_spans",
    "substring_contamination",
    "dsir_weights",
    "temperature_resample",
    "mix_by_source",
    "pack_documents",
    "shuffle_shards",
    "training_export",
    "bpe_token_counts",
    "toy_bpe_token_counts",
    "TOY_BPE_MERGES",
]

# Toy BPE merge table for the worked model-token-budget example
# (toy_bpe_token_counts). Deliberate constraint: every rule is a
# character bigram and the rules' alphabets are pairwise DISJOINT
# ({t,h}, {e,r}, {a,n}, {i,s}, {o,u}), which gives greedy BPE a closed
# form an independent SQL engine can replay exactly:
#   tokens(word) = len(word) - sum_rule occurrences(word, rule)
# because (a) a distinct-char bigram cannot overlap itself, (b) rules
# with disjoint alphabets cannot overlap each other or span a merged
# symbol, and (c) merging one pair never makes two other symbols
# adjacent (the merged symbol sits between them) — so the rank-ordered
# merge loop and the per-rule non-overlapping occurrence counts on the
# ORIGINAL word coincide. A real tokenizer drops the constraint and the
# closed form, keeping the same plan shape.
TOY_BPE_MERGES = ("th", "er", "an", "is", "ou")


def _eval_grams(eval_docs: DataFrame, n: int, text_col: str) -> DataFrame:
    """(h, eval_id, et): the DISTINCT word-``n``-gram hashes of the eval
    side, eval_id and et NULL — the gram rules' probe table. The eval
    side is benchmarks, not corpus (a few million distinct grams at
    most), so it broadcasts."""
    none = F.lit(None).cast("string")
    return (
        eval_docs.select(F.explode(word_ngram_hashes(text_col, n=n)).alias("h"))
        .distinct()
        .select("h", none.alias("eval_id"), none.alias("et"))
    )


def _eval_anchors(eval_docs: DataFrame, n: int, text_col: str) -> DataFrame:
    """(h, eval_id, et): one row per eval document of at least ``n``
    tokens — its FIRST ``n``-gram hash (the anchor), its id, and its
    normalized text (lowercased tokens joined by single spaces) — the
    verbatim-containment probe table. A document containing an eval
    document necessarily contains its anchor, so probing by anchor loses
    no match."""
    tk = word_tokens(text_col)
    return eval_docs.where(F.size(tk) >= n).select(
        F.element_at(word_ngram_hashes(text_col, n=n), 1).alias("h"),
        F.col("doc_id").cast("string").alias("eval_id"),
        F.array_join(tk, " ").alias("et"),
    )


def _gram_pass(
    docs: DataFrame,
    probe: DataFrame,
    n: int,
    text_col: str,
    broadcast_eval: bool,
    keep: tuple = (),
    broadcast_hits: bool = False,
) -> DataFrame:
    """THE corpus gram pass every decontamination rule reads from: one
    ``posexplode`` of the corpus word ``n``-grams, one probe join against
    ``probe`` (``_eval_grams`` rows, ``_eval_anchors`` rows, or their
    union), one per-doc aggregate of the matches, joined back to
    ``docs.select("doc_id", *keep)``. Adds per document:

    - ``n_hits``: DISTINCT matched eval grams;
    - ``n_matched`` / ``ms``: matched gram positions, count and sorted
      0-based starts;
    - ``cands``: the eval documents whose anchor the document contains,
      (eval_id, et) structs.

    Only matched grams shuffle, and the per-doc DISTINCT runs after the
    probe: a corpus-sized dedup shuffle before it would dominate the
    job. A rule selects the columns it needs and the optimizer prunes
    the rest from the aggregate and the join back, so each rule pays for
    its own columns only; ``keep`` carries what a rule computes from the
    document before the join back (the text, or a map-side count).
    ``broadcast_eval=False`` makes the probe a hash join on the gram
    hash, for eval sets too large to broadcast; ``broadcast_hits``
    broadcasts the per-doc aggregate into the join back, so the
    document side is never shuffled.
    """
    if broadcast_eval:
        probe = F.broadcast(probe)
    is_gram = F.col("et").isNull()
    hits = (
        docs.select(
            "doc_id", F.posexplode(word_ngram_hashes(text_col, n=n)).alias("gpos", "h")
        )
        .join(probe, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct(F.when(is_gram, F.col("h"))).alias("hits"),
            F.count(F.when(is_gram, F.lit(1))).alias("matched"),
            F.sort_array(F.collect_list(F.when(is_gram, F.col("gpos")))).alias(
                "starts"
            ),
            F.collect_set(F.when(~is_gram, F.struct("eval_id", "et"))).alias("cand"),
        )
    )
    if broadcast_hits:
        hits = F.broadcast(hits)
    side = docs.select("doc_id", *keep)
    return side.join(hits, "doc_id", "left").select(
        *side.columns,
        F.coalesce("hits", F.lit(0)).alias("n_hits"),
        F.coalesce("matched", F.lit(0)).alias("n_matched"),
        F.coalesce("starts", F.array().cast("array<int>")).alias("ms"),
        F.coalesce(
            "cand", F.array().cast("array<struct<eval_id:string,et:string>>")
        ).alias("cands"),
    )


def _n_grams(tokens: Column, n: int) -> Column:
    """Word ``n``-gram positions of a document's ``tokens``: tokens -
    n + 1, at least 0 (NULL text has none)."""
    return F.greatest(F.size(tokens) - (n - 1), F.lit(0))


def _frac(n_grams: Column) -> Column:
    """Distinct hits over gram positions, 6-dp rounded; 0.0 without
    positions."""
    return F.when(n_grams > 0, F.round(F.col("n_hits") / n_grams, 6)).otherwise(
        F.lit(0.0)
    )


def _n_eval_hits(tokens: Column) -> Column:
    """DISTINCT candidate eval documents whose normalized text the
    document (its ``tokens``) contains on token boundaries (space-padded
    ``contains``), tested once per candidate."""

    def pad(c: Column) -> Column:
        return F.concat(F.lit(" "), c, F.lit(" "))

    nt = pad(F.array_join(tokens, " "))
    found = F.filter("cands", lambda c: nt.contains(pad(c["et"])))
    return F.size(F.array_distinct(F.transform(found, lambda c: c["eval_id"]))).cast(
        "long"
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Flag training documents that share word ``n``-grams with an
    evaluation/benchmark set (GPT-3-style 13-gram decontamination).

    Returns one row per input document: ``(doc_id, n_hits,
    contaminated)`` where ``n_hits`` counts DISTINCT eval n-grams the
    document contains and ``contaminated = n_hits >= min_hits``.
    Documents shorter than ``n`` tokens have no n-grams and are clean by
    construction — same short-doc convention as
    dedup.duplicate_ngram_fraction.

    Plan shape at 100 TB: the eval gram set broadcasts and the corpus
    pays the shared gram pass (``_gram_pass``: one scan + posexplode +
    broadcast probe, the per-doc DISTINCT count AFTER the probe), so the
    only corpus-side exchange carries the matched grams. With
    ``broadcast_eval=False`` the probe is a hash-partitioned join on the
    gram hash for eval sets too large to broadcast (e.g.
    decontaminating against another corpus).
    """
    p = _gram_pass(
        docs, _eval_grams(eval_docs, n, text_col), n, text_col, broadcast_eval
    )
    return p.select(
        "doc_id", "n_hits", (F.col("n_hits") >= min_hits).alias("contaminated")
    )


def decontaminate_fraction(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    max_frac: float = 0.1,
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Fraction-based decontamination (the Dolma/RedPajama-style rule:
    drop a document when AT LEAST a threshold fraction of its n-grams
    are contaminated, instead of min-hit counting): one row per input
    document, ``(doc_id, n_grams, n_hits, frac, contaminated)`` with
    ``contaminated = frac >= max_frac`` — the boundary is INCLUSIVE,
    and because ``frac`` is rounded to 6 dp before the compare, a raw
    fraction within 5e-7 below the threshold rounds up and trips it
    (false for docs shorter than ``n`` tokens, which have no grams).

    Definition kept deliberately shuffle-free on the corpus side:
    ``n_grams`` is the number of n-gram POSITIONS (tokens - n + 1, over
    the same tokens as the grams), computed map-side from the text
    before the join back, so only an int crosses it; ``n_hits`` counts
    DISTINCT matched grams (the shared gram pass). frac = distinct-hits
    / positions therefore UNDERESTIMATES the distinct-gram fraction for
    self-repetitive documents — the conservative direction for a drop
    rule — and the alternative (per-doc DISTINCT gram counts) would
    shuffle the entire corpus gram stream before the probe. Rounded to
    6 dp so the threshold compare is engine-exact (same policy as
    temperature_resample's rate).
    """
    p = _gram_pass(
        docs, _eval_grams(eval_docs, n, text_col), n, text_col, broadcast_eval,
        keep=(_n_grams(word_tokens(text_col), n).alias("n_grams"),),
    )
    frac = _frac(F.col("n_grams"))
    return p.select(
        "doc_id", "n_grams", "n_hits", frac.alias("frac"),
        (frac >= max_frac).alias("contaminated"),
    )


def substring_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    anchor_n: int = 8,
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Exact-substring decontamination: flag training documents that
    contain an ENTIRE eval document verbatim (token-boundary,
    whitespace/case-normalized) — the strict companion to the n-gram
    overlap rules, catching full-benchmark inclusions that per-gram
    thresholds can dilute away in long documents. Returns one row per
    input document: ``(doc_id, n_eval_hits, contaminated)`` where
    ``n_eval_hits`` counts DISTINCT contained eval documents.

    Containment is on the normalized token sequence (lowercased tokens
    joined by single spaces, matched with space padding so boundaries
    never split a token) — the definition an independent SQL engine
    reproduces with one ``contains()``. Eval documents shorter than
    ``anchor_n`` tokens are ignored by contract (too short to be a
    meaningful verbatim inclusion; the n-gram rules own that regime).

    Plan shape at 100 TB: a naive contains() is corpus × eval — never.
    The probe is each eval doc's first ``anchor_n``-token gram (a
    lossless prefilter, ``_eval_anchors``), the corpus pays the shared
    gram pass, and the per-doc candidate sets — anchor matches, a
    vanishing fraction — BROADCAST into the join back, where the
    contains() verification runs map-side on the candidates only. The
    document text is never shuffled.
    """
    p = _gram_pass(
        docs, _eval_anchors(eval_docs, anchor_n, text_col), anchor_n, text_col,
        broadcast_eval, keep=(F.col(text_col),), broadcast_hits=True,
    )
    hits = _n_eval_hits(word_tokens(text_col))
    return p.select(
        "doc_id", hits.alias("n_eval_hits"), (hits > 0).alias("contaminated")
    )


def excise_contaminated_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Decontamination by EXCISION: instead of dropping a document that
    shares n-grams with the eval set (``decontaminate``), cut out just
    the contaminated token spans and keep the rest — the
    keep-the-document policy pipelines use when documents are long and
    contamination is localized (a quoted benchmark question inside an
    otherwise-good page). Returns one row per input document:
    ``(doc_id, n_matched, n_removed, clean_text)`` where ``n_matched``
    counts matched n-gram positions, a matched gram at token position p
    removes tokens [p, p+n-1], overlapping spans merge naturally, and
    ``clean_text`` is the surviving tokens joined by single spaces.

    Works on the normalized token stream (``dedup.word_tokens`` — the
    shared convention of every gram operator here), so ``clean_text`` is
    normalized text, not original bytes; pipelines that must preserve
    raw bytes keep the (doc_id, removed-span) map instead. NULL text
    stays NULL with zero counts.

    Plan shape: the shared gram pass — the only shuffled rows are
    MATCHED gram positions (vanishing fraction), collected per doc as a
    sorted start-offset array; the excision itself is the map-side
    ``dedup.span_excision`` filter at the join back.
    """
    p = _gram_pass(
        docs, _eval_grams(eval_docs, n, text_col), n, text_col, broadcast_eval,
        keep=(F.col(text_col),),
    ).withColumn("tk", word_tokens(text_col))
    return p.select("doc_id", "n_matched", *span_excision(F.col("tk"), F.col("ms"), n))


def _report(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int,
    min_hits: int,
    max_frac: float,
    text_col: str,
    broadcast_eval: bool,
    anchors: bool,
) -> DataFrame:
    """``decontamination_report``'s columns from one gram pass; without
    ``anchors`` the probe holds the eval gram set only and the substring
    columns read 0/false."""
    probe = _eval_grams(eval_docs, n, text_col)
    if anchors:
        probe = probe.unionByName(_eval_anchors(eval_docs, n, text_col))
    p = _gram_pass(
        docs, probe, n, text_col, broadcast_eval, keep=(F.col(text_col),)
    ).withColumn("tk", word_tokens(text_col))
    n_grams, n_eval_hits = _n_grams(F.col("tk"), n), _n_eval_hits(F.col("tk"))
    frac = _frac(n_grams)
    minhit, over = F.col("n_hits") >= min_hits, frac >= max_frac
    verbatim = n_eval_hits > 0
    return p.select(
        "doc_id",
        n_grams.alias("n_grams"),
        "n_hits",
        frac.alias("frac"),
        "n_matched",
        *span_excision(F.col("tk"), F.col("ms"), n),
        n_eval_hits.alias("n_eval_hits"),
        minhit.alias("contaminated_minhit"),
        over.alias("contaminated_frac"),
        verbatim.alias("contaminated_substring"),
        (minhit | over | verbatim).alias("contaminated_any"),
    )


def decontamination_report(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    max_frac: float = 0.1,
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """ALL FOUR decontamination rules — min-hit (``decontaminate``),
    fraction (``decontaminate_fraction``), verbatim containment
    (``substring_contamination``), and span excision
    (``excise_contaminated_spans``) — from ONE corpus gram pass. A real
    curation run applies several rules; composing the standalone
    operators re-explodes the corpus once per rule, and the 13-gram
    explode is the measured dominant cost of the whole training export
    (BENCH.md §14), so the fused pass is the difference between one and
    four corpus-dominating stages at 100 TB.

    Returns one row per input document::

        (doc_id, n_grams, n_hits, frac, n_matched, n_removed,
         clean_text, n_eval_hits, contaminated_minhit,
         contaminated_frac, contaminated_substring, contaminated_any)

    Each column is the corresponding standalone operator's output by
    construction: every rule is a selection from the same gram pass
    (``_gram_pass``) with the same column expressions; the standalone
    rules differ only in which eval table they probe and in what they
    carry into the join back. One fusion
    constraint: the substring rule's anchor length is ``n`` (the shared
    gram size) instead of an independent ``anchor_n`` — eval docs
    shorter than ``n`` tokens fall to the gram rules, which own that
    regime anyway.

    Plan shape — the whole point:

    - The corpus text is gram-exploded EXACTLY ONCE (one
      ``posexplode``; positions serve excision, hashes serve
      everything), plan-locked by tests/test_plans.py.
    - The probe is ONE union table keyed by gram hash: the distinct
      eval gram set (rows with NULL et) plus one anchor row per eval
      doc. A single broadcast probe join classifies every matched
      corpus gram as a gram-rule hit, a containment candidate, or both.
    - ONE per-doc aggregation computes the distinct-hit count, the
      sorted matched positions, and the candidate eval set together —
      matched grams are the only shuffled rows.
    - Excision and containment verification are map-side higher-order
      expressions at the doc_id join back, which re-reads (doc_id,
      text) — a plain column-pruned scan, not a re-explode.
    """
    return _report(
        docs, eval_docs, n, min_hits, max_frac, text_col, broadcast_eval, anchors=True
    )


def temperature_resample(
    docs: DataFrame,
    alpha: float = 0.7,
    group_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "s0",
) -> DataFrame:
    """Language-temperature rebalancing: keep each group-``g`` row with
    probability ``rate_g = (p_g^(alpha-1)) / max_h(p_h^(alpha-1))`` where
    ``p_g`` is the group's corpus share — the standard multilingual
    sampling temperature (sampling distribution ``q_g ∝ p_g^alpha``)
    realized as a downsample: the rarest group keeps rate 1.0 and
    dominant groups are thinned toward the flattened mix. ``alpha=1``
    keeps everything; ``alpha=0`` targets a uniform group mix.

    The acceptance draw is the deterministic md5-uniform of the row key,
    so the selection is reproducible and engine-portable; ``rate`` is
    rounded to 6 dp BEFORE the comparison so the boundary itself is
    engine-exact too (pow() may differ in the last ulp across libm
    implementations; 6 dp is far coarser than that).

    Plan shape: one tiny group-count aggregation (groups are languages —
    dozens), a window max over that tiny frame, a broadcast join back,
    and a map-side filter. The corpus is scanned once, never shuffled.

    Returns kept rows with ``u`` (draw) and ``rate`` for audit.
    """
    # NULL group values form their own group (an inner equi-join on the
    # raw column would silently DROP NULL-group rows — a SQL three-valued
    # trap, same class as the curation NULL-lang fix): join on a
    # null-safe key, report the original column
    gkey = F.coalesce(F.col(group_col).cast("string"), F.lit("\x00null"))
    counts = (
        docs.groupBy(gkey.alias("__gkey"))
        .agg(F.count("*").alias("n_g"))
    )
    total = Window.partitionBy()
    w = counts.withColumn(
        "w_g", F.pow(F.col("n_g") / F.sum("n_g").over(total), alpha - 1.0)
    )
    rates = w.select(
        "__gkey",
        F.round(F.col("w_g") / F.max("w_g").over(total), 6).alias("rate"),
    )
    return (
        docs.withColumn("__gkey", gkey)
        .join(F.broadcast(rates), "__gkey")
        .drop("__gkey")
        .withColumn("u", md5_uniform(key_col, salt))
        .where(F.col("u") < F.col("rate"))
    )


def mix_by_source(
    docs: DataFrame,
    shares: dict,
    source_col: str = "source",
    text_col: str = "text",
    key_col: str = "doc_id",
    salt: str = "mix0",
) -> DataFrame:
    """Deterministic TOKEN-weighted dataset mixing: downsample each
    source so the kept corpus's expected token mix matches the target
    ``shares`` (e.g. ``{"web": 0.6, "code": 0.2, "books": 0.2}``) —
    the "data mixture" knob of LM pretraining, realized without an RNG.

    Per source g: ``rate_g = (share_g / tokens_g) / max_h(share_h /
    tokens_h)`` — the source whose target share is largest relative to
    its token supply keeps rate 1.0 (nothing is upsampled; mixing by
    downsampling only, same policy as temperature_resample), every
    other source thins toward the target ratio. Sources ABSENT from
    ``shares`` get no rate and are dropped entirely (SQL three-valued
    ``u < NULL`` — intentional: an unlisted source has no place in the
    mix), and so is a LISTED source whose measured token supply is zero
    (an explicit ``tok_g > 0`` guard: share/0 is NULL in Spark but
    Infinity in engines with IEEE division, where the window max would
    then zero every other source's rate — the guard pins the portable
    semantics). The acceptance draw is the md5-uniform of the row key, so the
    selection is reproducible and engine-portable; rates round to 6 dp
    before the compare (engine-exact boundary).

    Plan shape: one tiny per-source token aggregation (sources are a
    handful), a window max over that tiny frame, a broadcast join back,
    a map-side filter — the corpus is scanned once and never shuffled.
    Differs from sampling.stratified_sample (caller supplies ROW rates)
    in that rates are DERIVED from target token shares and the measured
    token supply.

    Returns kept rows with ``u`` and ``rate`` for audit.
    """
    gkey = F.coalesce(F.col(source_col).cast("string"), F.lit("\x00null"))
    toks = F.when(
        F.col(text_col).isNull() | (F.trim(F.col(text_col)) == ""), F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    counts = (
        docs.groupBy(gkey.alias("__gkey"))
        .agg(F.sum(toks).alias("tok_g"))
    )
    share_map = F.create_map(
        *[F.lit(x) for kv in shares.items() for x in kv]
    )
    total = Window.partitionBy()
    w = counts.withColumn(
        "w_g",
        F.when(
            F.col("tok_g") > 0,
            share_map.getItem(F.col("__gkey")) / F.col("tok_g"),
        ),
    )
    rates = w.select(
        "__gkey",
        F.round(F.col("w_g") / F.max("w_g").over(total), 6).alias("rate"),
    )
    return (
        docs.withColumn("__gkey", gkey)
        .join(F.broadcast(rates), "__gkey")
        .drop("__gkey")
        .withColumn("u", md5_uniform(key_col, salt))
        .where(F.col("u") < F.col("rate"))
    )


def pack_documents(
    docs: DataFrame,
    budget: int = 512,
    group_col: str | None = "lang",
    n_shards: int = 1,
    text_col: str = "text",
    key_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Assign every document to a fixed-token-budget training pack:
    documents are concatenated in deterministic ``key_col`` order inside
    each (group, shard) stream and the token stream is chopped at
    document boundaries every ``budget`` tokens — a document starts in
    the pack its first token falls into (``pack_id = floor(tokens_before
    / budget)``), so packs hold whole documents and may overflow the
    budget by at most one document's tail, the usual doc-boundary
    packing rule for LM pretraining batches.

    Returns ``(doc_id, grp, shard, n_tokens, pack_id, pack_pos)``
    where ``pack_pos`` is the document's 0-based rank within its pack.
    Zero-token documents occupy no space; they attach to the pack at
    their stream position.

    Plan shape at scale: the only shuffle is the window sort inside
    (group, shard). ``n_shards`` bounds that sort — each shard is an
    independent packing stream (shard = xxhash64 of the key, mod
    ``n_shards``), so 10^12 docs pack as n_shards independent
    window-partitions instead of one global per-language sort; pick
    n_shards so a shard's (doc_id, n_tokens) pairs fit an executor.
    Token counts default to the same whitespace tokenization as
    quality.token_counts; pass ``tokens_col`` to budget on a precomputed
    model-token count instead (e.g. a BPE count column — see
    bpe_token_counts) when exact model-token budgets are needed.
    """
    g = F.col(group_col) if group_col else F.lit("all")
    k = F.col(key_col)
    if tokens_col is not None:
        # precomputed (model-tokenizer) counts: NULL still packs as 0 so
        # the running window sum stays non-NULL
        ntok = F.coalesce(F.col(tokens_col).cast("int"), F.lit(0))
    else:
        # NULL text packs as 0 tokens, same as whitespace-only (size/split
        # would propagate NULL into the window sum and void the pack_id)
        ntok = F.when(
            F.col(text_col).isNull() | (F.trim(F.col(text_col)) == ""),
            F.lit(0),
        ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    d = docs.select(
        k.alias("doc_id"),
        g.alias("grp"),
        # md5-derived shard (engine-portable, same policy as
        # sampling.md5_uniform); xxhash64 is the cheaper in-Spark swap
        # when cross-engine reproducibility isn't needed
        F.floor(md5_uniform(key_col, "pack") * n_shards)
        .cast("int")
        .alias("shard"),
        ntok.alias("n_tokens"),
    )
    stream = Window.partitionBy("grp", "shard").orderBy("doc_id")
    d = d.withColumn(
        "tokens_before",
        F.coalesce(
            F.sum("n_tokens").over(
                stream.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).withColumn("pack_id", F.floor(F.col("tokens_before") / budget))
    pack = Window.partitionBy("grp", "shard", "pack_id").orderBy("doc_id")
    return d.select(
        "doc_id",
        F.col("grp").alias("grp"),
        "shard",
        "n_tokens",
        "pack_id",
        (F.row_number().over(pack) - 1).alias("pack_pos"),
    )


def shuffle_shards(
    docs: DataFrame,
    n_shards: int = 16,
    key_col: str = "doc_id",
    salt: str = "shuf0",
) -> DataFrame:
    """Deterministic global shuffle for training readers: every row gets
    a reproducible pseudo-random ``(shard, shard_pos)`` from the
    md5-uniform of its key — shard by the draw's high bits, position by
    rank of the draw within the shard. Equivalent to a uniform random
    permutation split into ``n_shards`` files, but stable across re-runs
    and engines (no RNG), which is what makes resumable training-data
    writes auditable.

    Plan shape: one hash per row, one shuffle on ``shard`` (uniform by
    construction — the draw is uniform, so shards are balanced within
    binomial noise), and a per-shard sort for ``shard_pos``. No global
    sort: each shard orders independently, exactly how the files would
    be written.
    """
    k = key_col
    d = docs.withColumn("u", md5_uniform(k, salt)).withColumn(
        "shard", F.floor(F.col("u") * n_shards).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("u", k)
    return d.withColumn("shard_pos", (F.row_number().over(w) - 1))


def bpe_token_counts(
    docs: DataFrame,
    merges: tuple,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, bpe_tokens): REAL byte-pair-encoding token counts — the
    general tokenizer ``pack_documents(tokens_col=...)`` budgets on.
    ``merges`` is a rank-ordered tuple of ``(x, y)`` SYMBOL pairs, the
    exact artifact a BPE trainer emits: symbols may be multi-character
    and alphabets may overlap (``("t","h")`` then ``("th","e")``), so a
    learned GPT-2/sentencepiece-style merge list drops in unchanged.

    Per whitespace word the kernel runs the canonical greedy loop:
    while any adjacent symbol pair is in the merge table, merge ALL
    leftmost non-overlapping occurrences of the best-ranked pair
    present, then rescan (HuggingFace/GPT-2 ``bpe()`` semantics; for a
    VALID learned table — one where a pair's symbols exist before the
    pair's rank — this equals the merge-one-occurrence-at-a-time
    formulation, which tests/test_training.py uses as the independent
    reference implementation). Case-sensitive; NULL/whitespace-only
    text counts 0.

    Plan shape: one Arrow-batched pandas_udf — per-row, stateless,
    embarrassingly parallel, no shuffle, so it scales as a map stage at
    any corpus size; the merge table ships in the UDF closure exactly
    like a production tokenizer's vocab file ships to executors. For a
    SQL-replayable constrained variant (the strict driver oracle) see
    ``toy_bpe_token_counts``; the ``pack_docs_bpe_real`` driver query
    replays THIS general kernel in DuckDB with a recursive-CTE
    delimited-encoding fold instead.
    """
    import re

    ranks = {(x, y): r for r, (x, y) in enumerate(merges)}

    @F.pandas_udf("long")
    def _count(texts: pd.Series) -> pd.Series:
        def word_bpe_count(w: str) -> int:
            syms = list(w)
            while True:
                best = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best):
                        best = r
                if best is None:
                    return len(syms)
                x, y = merges[best]
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == x
                        and syms[i + 1] == y
                    ):
                        out.append(x + y)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out

        def doc_tokens(t) -> int:
            if t is None:
                return 0
            t = t.strip()
            if not t:
                return 0
            return sum(word_bpe_count(w) for w in re.split(r"\s+", t))

        return texts.map(doc_tokens)

    return docs.select(
        F.col(key_col).alias("doc_id"),
        _count(F.col(text_col)).alias("bpe_tokens"),
    )


def toy_bpe_token_counts(
    docs: DataFrame,
    text_col: str = "text",
    merges: tuple = TOY_BPE_MERGES,
    key_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, bpe_tokens): MODEL-tokenizer token counts for packing —
    the worked example of feeding ``pack_documents(tokens_col=...)`` a
    real tokenizer's counts instead of whitespace-token counts. Runs an
    actual greedy byte-pair-encoding loop per whitespace word (symbols
    start as characters; repeatedly merge the best-ranked adjacent pair
    present until none applies) inside one Arrow-batched pandas_udf —
    the exact plan shape a production tokenizer (sentencepiece/tiktoken
    count) would use: per-row, stateless, embarrassingly parallel, no
    shuffle, so it scales as a map stage at any corpus size.

    ``merges`` is the rank-ordered merge table of character bigrams;
    the default ``TOY_BPE_MERGES`` satisfies the disjoint-alphabet
    constraint documented at its definition, making the count exactly
    SQL-replayable in closed form (the strict oracle for the
    ``pack_docs_bpe`` driver query replays it in DuckDB as
    replace-count deltas). NULL/whitespace-only text counts 0, the same
    convention as pack_documents' whitespace path. Delegates to the
    general ``bpe_token_counts`` kernel — the toy is exactly the
    general tokenizer under a constrained merge table.
    """
    return bpe_token_counts(
        docs,
        merges=tuple((m[0], m[1]) for m in merges),
        text_col=text_col,
        key_col=key_col,
    )


def training_export(
    docs: DataFrame,
    eval_docs: DataFrame,
    decontam_n: int = 13,
    alpha: float = 0.7,
    budget: int = 512,
    n_shards: int = 16,
    group_col: str = "lang",
    text_col: str = "text",
    pack_shards: int = 1,
    persist_clean: bool = True,
    decontam_rules: tuple = ("minhit",),
    excise: bool = False,
    min_hits: int = 1,
    max_frac: float = 0.1,
) -> DataFrame:
    """The whole last mile in one call: drop eval-set contamination
    (``decontaminate``), rebalance the language mix on the CLEAN corpus
    (``temperature_resample`` — rates are computed after decontamination,
    so a benchmark-heavy language doesn't keep its pre-cleaning share),
    pack the kept documents into token budgets (``pack_documents``), and
    give every document a deterministic training-reader address
    (``shuffle_shards``).

    Returns one row per exported document: ``(doc_id, group, pack_shard,
    n_tokens, pack_id, pack_pos, shard, shard_pos)``. The composition
    adds no operator of its own — each stage's scale story is its
    docstring's — but two plan shapes matter here because
    decontamination (corpus scan + 13-gram explode + broadcast probe)
    is the dominant cost of the whole export at corpus scale, and a
    naive composition runs it more than once:

    - The lineage is deliberately LINEAR: the shard address depends
      only on ``doc_id``, so ``shuffle_shards`` is applied to the
      packed frame itself (which already carries exactly one row per
      kept document) instead of branching off the resampled frame and
      joining back — that removes one whole re-run AND the corpus-sized
      doc_id join the branch shape needed.
    - ``temperature_resample`` consumes its input twice by construction
      (once to aggregate the group rates, once as the corpus side of
      the rate join), which would still re-run decontamination inside
      each consumer. ``persist_clean=True`` (default) truncates lineage
      at the narrow ``clean`` doc_id list with a lazy
      ``localCheckpoint``: the gram explode + probe materialize ONCE
      (first action), and every downstream consumer re-joins the
      checkpointed doc_id RDD against a plain corpus scan — the 13-gram
      work is never repeated. The checkpoint holds one doc_id column
      (MEMORY_AND_DISK on executors), orders of magnitude narrower than
      the corpus; set ``persist_clean=False`` for a fully lazy plan
      (e.g. single-action dry runs where plan inspection matters more
      than recompute).

    ``pack_shards`` bounds the packing window sort (see
    pack_documents): the default 1 gives ONE pack stream per language —
    fine up to an executor's worth of (doc_id, n_tokens) pairs per
    language, the deterministic-oracle shape — but at corpus scale set
    it so each (group, shard) stream fits an executor; packs never
    cross shards, so the result is still whole-document packs, just
    ``pack_shards`` independent streams per language.

    **Decontamination rules**: ``decontam_rules`` picks the drop rules
    from {"minhit", "fraction", "substring"} and ``excise=True``
    additionally CUTS matched spans from surviving documents, with
    packing budgeted on the post-excision token counts. Every
    combination reads ``decontamination_report``'s columns from the SAME
    single corpus gram pass, so a 3-rule-plus-excision export still pays
    exactly ONE corpus-dominating decontamination stage; the eval anchor
    rows join the probe only when "substring" is requested, and the
    optimizer prunes the columns no requested rule reads (the default
    ``("minhit",)`` export runs ``decontaminate``'s plan). The
    checkpointed clean list stays narrow: (doc_id), plus n_removed with
    excision — never text.
    """
    flag = {
        "minhit": "contaminated_minhit",
        "fraction": "contaminated_frac",
        "substring": "contaminated_substring",
    }
    bad = set(decontam_rules) - set(flag)
    if bad:
        raise ValueError(f"unknown decontam rules: {sorted(bad)}")
    rep = _report(
        docs, eval_docs, decontam_n, min_hits, max_frac, text_col,
        broadcast_eval=True, anchors="substring" in decontam_rules,
    )
    drop = F.lit(False)
    for rule in decontam_rules:
        drop = drop | F.col(flag[rule])
    clean = rep.where(~drop).select("doc_id", *(["n_removed"] if excise else []))
    if persist_clean:
        clean = clean.localCheckpoint(eager=False)
    kept_docs = docs.join(clean, "doc_id")
    kept = temperature_resample(kept_docs, alpha=alpha, group_col=group_col)
    if excise:
        # budget packs on the POST-excision token counts, computed
        # map-side from the raw text minus the checkpointed removal
        # count — the excised text itself never ships through the plan
        raw_toks = F.when(
            F.col(text_col).isNull() | (F.trim(F.col(text_col)) == ""),
            F.lit(0),
        ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
        kept = kept.withColumn(
            "__clean_toks", raw_toks - F.col("n_removed")
        )
        packed = pack_documents(
            kept,
            budget=budget,
            group_col=group_col,
            n_shards=pack_shards,
            tokens_col="__clean_toks",
        )
    else:
        packed = pack_documents(
            kept,
            budget=budget,
            group_col=group_col,
            n_shards=pack_shards,
            text_col=text_col,
        )
    packed = packed.select(
        "doc_id",
        F.col("grp").alias("group"),
        F.col("shard").alias("pack_shard"),
        "n_tokens",
        "pack_id",
        "pack_pos",
    )
    return shuffle_shards(packed, n_shards=n_shards).select(
        "doc_id",
        "group",
        "pack_shard",
        "n_tokens",
        "pack_id",
        "pack_pos",
        "shard",
        "shard_pos",
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    buckets: int = 8192,
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al., NeurIPS 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    each raw document by how much more likely its hashed-bigram bag is
    under the TARGET corpus' bucket distribution than under the RAW
    corpus' own — log w(d) = sum over bigrams g of
    ln p_target(h(g)) - ln p_raw(h(g)), with word bigrams hashed into
    ``buckets`` buckets and add-1 smoothing on both multinomials.

    Deterministic + engine-portable by the repo's standard recipe: the
    bucket hash is md5-derived (first 8 hex digits mod ``buckets``, the
    textops/sampling.py policy), and the per-doc sum is an EXACT
    integer-micro accumulation — each bucket's log-ratio is rounded to
    a micro int ONCE (a |buckets|-sized table), docs sum BIGINTs, and
    one final division recovers the 6-dp score. Float summation order
    can therefore never flip a value across engines or partitionings.

    Selection is the map-side rule ``keep = score > 0`` (doc looks more
    target- than raw-like) — zero extra shuffles; quota-style top-k
    selection composes downstream via sampling.quota_sample on the
    score. Docs with < 2 tokens have no bigrams: score 0, keep false.

    Scale shape: two corpus-sized explode+aggregate passes (raw and
    target bucket censuses — bounded output: ``buckets`` rows each), a
    broadcast of the λ table (buckets × 16 B — a few hundred KB), and
    one map-side-joined aggregation per doc. No pairwise stage, no
    global sort; the hazard at 10^12 docs is only the bigram explode's
    shuffle, which partial-aggregates map-side onto bucket ids.
    """
    def grams(df: DataFrame) -> DataFrame:
        tk = word_tokens(text_col)
        # size >= 2 guard BEFORE the transform: sequence(1, 0) in Spark
        # is the DESCENDING [1, 0], not empty, so a single-token doc
        # would index tk[1] out of bounds under ANSI mode
        t = df.select("doc_id", tk.alias("tk")).where(F.size("tk") >= 2)
        return (
            t.select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(tk) - 1),"
                        " i -> concat(tk[i - 1], ' ', tk[i]))"
                    )
                ).alias("gram"),
            )
            .withColumn(
                "bucket",
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("gram"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                % buckets,
            )
        )

    raw_g = grams(docs)
    tgt_g = grams(target)
    raw_c = raw_g.groupBy("bucket").agg(F.count("*").alias("c_raw"))
    tgt_c = tgt_g.groupBy("bucket").agg(F.count("*").alias("c_tgt"))
    raw_n = raw_g.count()
    tgt_n = tgt_g.count()
    # λ table: one row per OCCUPIED bucket. Every raw gram's bucket is
    # occupied on the raw side by construction, so the left join below
    # never misses; buckets occupied only on the target side influence
    # nothing (no raw gram hits them).
    lam = (
        raw_c.join(tgt_c, "bucket", "full")
        .select(
            "bucket",
            F.round(
                (
                    F.log(
                        (F.coalesce("c_tgt", F.lit(0)) + 1)
                        / F.lit(float(tgt_n + buckets))
                    )
                    - F.log(
                        (F.coalesce("c_raw", F.lit(0)) + 1)
                        / F.lit(float(raw_n + buckets))
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("lam_micro"),
        )
    )
    scored = (
        raw_g.join(F.broadcast(lam), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("lam_micro").alias("w_micro"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.round(F.coalesce("w_micro", F.lit(0)) / 1e6, 6).alias("score"),
            (F.coalesce("w_micro", F.lit(0)) > 0).alias("keep"),
        )
    )
