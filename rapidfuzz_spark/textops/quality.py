"""Text-analysis operators: language ID, quality scoring, token counting,
winnowing fingerprints. Pure built-in expressions end to end.

Scale notes: every operator is either per-row arithmetic (quality, token
counts — zero shuffle, full codegen) or one explode + partial aggregation
(lang-ID profiles, fingerprints). The lang-ID *training* aggregation
produces |langs| x top_n rows — broadcast-joined back to the corpus, so
classification adds no shuffle of the documents side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import word_tokens


def char_trigrams(text: Column | str) -> Column:
    """All (non-distinct) lowercase character trigrams."""
    t = F.lower(text if isinstance(text, Column) else F.col(text))
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - 2, F.lit(1))),
        lambda i: t.substr(i, F.lit(3)),
    )


def trigram_profiles(
    docs: DataFrame, lang_col: str = "lang", text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """(lang, tg): the ``top_n`` most frequent character trigrams per
    language (frequency desc, trigram asc tiebreak — deterministic)."""
    tg = docs.select(
        F.col(lang_col).alias("lang"), F.explode(char_trigrams(text_col)).alias("tg")
    )
    counts = tg.groupBy("lang", "tg").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), "tg")
    return (
        counts.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= top_n)
        .select("lang", "tg")
    )


def language_id(
    docs: DataFrame, lang_col: str = "lang", text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """(doc_id, pred_lang, is_correct): n-gram-profile classifier.
    Profiles are learned from the corpus itself (top trigrams per lang),
    each doc votes by how many distinct profile trigrams it contains;
    argmax with lang-asc tiebreak. Profile table is tiny -> broadcast."""
    profiles = trigram_profiles(docs, lang_col, text_col, top_n)
    doc_tg = docs.select(
        "doc_id",
        F.col(lang_col).alias("true_lang"),
        F.explode(F.array_distinct(char_trigrams(text_col))).alias("tg"),
    )
    hits = (
        doc_tg.join(F.broadcast(profiles), "tg")
        .groupBy("doc_id", "true_lang", "lang")
        .agg(F.count("*").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "lang")
    best = (
        hits.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("doc_id", "lang")
    )
    # left join back to the full doc set: a doc sharing zero profile
    # trigrams (numeric-only text, unseen language) must not vanish from
    # the output — it gets the explicit 'und' (undetermined) label
    return (
        docs.select("doc_id", F.col(lang_col).alias("true_lang"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lang"), F.lit("und")).alias("pred_lang"),
            F.coalesce(
                F.col("lang") == F.col("true_lang"), F.lit(False)
            ).alias("is_correct"),
        )
    )


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features + a composite score in [0,1] — the usual
    pre-training corpus filters (length, word-length sanity, symbol
    density), all as codegen'd arithmetic."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(word_tokens(t, lowercase=False))
    n_alpha = F.length(F.regexp_replace(F.lower(t), r"[^a-z]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    n_space = F.length(F.regexp_replace(t, r"[^ ]", ""))
    # compose the score from UNROUNDED ratios (rounding the inputs first
    # would park the composite exactly on a .5 rounding boundary whenever a
    # 1-dp coefficient meets a 6-dp ratio); round only for display.
    # Zero-denominator guards (empty text, zero tokens) define every
    # ratio as 0.0 — Spark 4 runs ANSI mode by default, so an unguarded
    # /0 aborts the job on exactly the degenerate docs this filter exists
    # to score
    mean_tok = F.coalesce(
        (n_chars - n_space).cast("double") / F.nullif(n_tokens, F.lit(0)),
        F.lit(0.0),
    )
    alpha_ratio = F.coalesce(
        n_alpha.cast("double") / F.nullif(n_chars, F.lit(0)), F.lit(0.0)
    )
    digit_ratio = F.coalesce(
        n_digit.cast("double") / F.nullif(n_chars, F.lit(0)), F.lit(0.0)
    )
    # length factor saturates at 200 chars; word-length factor is 1 inside
    # [3, 10] mean chars/token and decays outside
    len_f = F.least(n_chars.cast("double") / 200.0, F.lit(1.0))
    wl_f = F.when((mean_tok >= 3.0) & (mean_tok <= 10.0), 1.0).otherwise(0.5)
    # lower clamp: digit-heavy short docs can push the raw composite
    # below zero, and the contract is a score in [0, 1]
    score = F.round(
        F.greatest(
            F.lit(0.0),
            0.4 * len_f + 0.3 * alpha_ratio + 0.3 * wl_f - 0.2 * digit_ratio,
        ),
        6,
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_tokens.alias("n_tokens"),
        F.round(mean_tok, 6).alias("mean_tok_len"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        score.alias("quality"),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens): whitespace tokens and a BPE-ish
    regex token count (letter runs | digit runs | single symbol) —
    the standard cheap proxy for tokenizer cost, via regexp_count."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.size(word_tokens(t, lowercase=False)).alias("ws_tokens"),
        F.regexp_count(F.lower(t), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]")).alias(
            "bpe_tokens"
        ),
    )


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = 8, window: int = 4
) -> DataFrame:
    """(doc_id, n_fingerprints, min_fp): winnowing (Schleimer et al.) —
    hash every k-gram, keep the min hash of each sliding window of
    ``window`` consecutive k-grams, count distinct survivors. The rolling
    window is a frame-bounded window min (no self-join)."""
    t = F.lower(F.col(text_col))
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
                lambda i: t.substr(i, F.lit(k)),
            )
        ).alias("pos", "g"),
    ).select("doc_id", "pos", F.md5("g").alias("h"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    fps = grams.select("doc_id", F.min("h").over(w).alias("fp"))
    return fps.groupBy("doc_id").agg(
        F.count_distinct("fp").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
    )


def token_df_stats(
    docs: DataFrame, text_col: str = "text", top_n: int = 50
) -> DataFrame:
    """(token, doc_freq, term_freq, rank): corpus-wide token statistics —
    the inputs to stopword discovery, IDF tables (pipeline/blocking's
    census and textops/softtfidf both consume document frequencies), and
    quality filters that key on rare-token ratios.

    One explode + one hash-aggregate: term_freq collapses map-side
    (partial aggregation), doc_freq is a distinct-count on the same key.
    The top-N runs as a distributed TakeOrderedAndProject (each
    partition keeps its local top-N, the driver merges N-row heaps) —
    NOT a global row_number window, which would move the entire
    vocabulary (hundreds of millions of tokens at corpus scale) onto a
    single partition; the rank window then runs over only the ``top_n``
    survivors. Ties break on the token string so the ranking is total
    and reproducible."""
    toks = docs.select(
        "doc_id",
        F.explode(word_tokens(text_col)).alias("token"),
    )
    agg = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count("*").alias("term_freq"),
    )
    top = agg.orderBy(F.desc("term_freq"), F.asc("token")).limit(top_n)
    w = Window.orderBy(F.desc("term_freq"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w))


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, frac_dup_tokens, top_bigram_frac,
    max_token_run): within-document repetition — the Gopher-rules
    complement to the cross-document signals in textops/dedup.py.
    Degenerate generated/boilerplate text repeats itself internally long
    before it duplicates another document:

    - ``frac_dup_tokens``: 1 - distinct/total tokens (word-level
      repetition mass)
    - ``top_bigram_frac``: occurrences of the most frequent word bigram
      over all bigram positions (loop detection)
    - ``max_token_run``: longest run of consecutive IDENTICAL tokens
      (stutter detection); 0 for empty docs

    Plan: one explode of (doc, pos, token), bigram + run-id derived with
    lag windows partitioned by doc_id, two hash-aggregates back to one
    row per doc — every aggregate is partial-agg friendly and the only
    shuffle key is doc_id (no skew: a document is one partition's worth
    of tokens by construction)."""
    from pyspark.sql.window import Window as W

    toks = docs.select(
        "doc_id",
        F.posexplode_outer(word_tokens(text_col)).alias("pos", "tok"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    enriched = toks.select(
        "doc_id",
        "pos",
        "tok",
        F.lag("tok").over(w).alias("prev"),
        F.lead("tok").over(w).alias("nxt"),
    ).withColumn(
        # run id: increments whenever the token changes; null-token rows
        # (empty docs) keep run_id null and drop out of the run lengths
        "run_id",
        F.when(
            F.col("tok").isNotNull(),
            F.sum(
                F.when(
                    F.col("prev").isNull() | (F.col("prev") != F.col("tok")),
                    1,
                ).otherwise(0)
            ).over(w),
        ),
    )
    runs = (
        enriched.where(F.col("run_id").isNotNull())
        .groupBy("doc_id", "run_id")
        .agg(F.count("*").alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("max_token_run"))
    )
    bigrams = (
        enriched.where(F.col("nxt").isNotNull())
        .groupBy("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bg"))
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_bg"), F.sum("c").alias("n_bigrams")
        )
    )
    base = enriched.groupBy("doc_id").agg(
        F.count("tok").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
    )
    return (
        base.join(runs, "doc_id", "left")
        .join(bigrams, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    1.0 - F.col("n_distinct") / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("frac_dup_tokens"),
            F.round(
                F.coalesce(F.col("top_bg") / F.col("n_bigrams"), F.lit(0.0)),
                6,
            ).alias("top_bigram_frac"),
            F.coalesce("max_token_run", F.lit(0)).alias("max_token_run"),
        )
    )


def salt_hot_tokens(
    probe: DataFrame,
    counts: DataFrame,
    keys: list[str],
    hot_keys: DataFrame,
    n_salts: int = 8,
    salt_src: str = "doc_id",
) -> DataFrame:
    """Skew-proof equi-join of a corpus-sized token stream (``probe``)
    against a one-row-per-key count/vocabulary frame (``counts``):
    build-side rows for the ``hot_keys`` (the Zipf head — stopwords) are
    replicated across ``n_salts`` salt values and the probe side picks a
    deterministic salt from ``xxhash64(salt_src, *keys)``, so the
    stopword key that would land a whole "the" partition on one task is
    spread over ``n_salts`` tasks instead. Cold keys keep salt 0 — no
    replication, no extra rows.

    Same result multiset as ``probe.join(counts, keys)``: every probe
    row still matches exactly one build row (the replica carrying its
    salt), locked by tests/test_textops.py. This is the same
    census-then-salt playbook as pipeline/blocking.py's salted block
    join, specialized to the build-side-is-an-aggregate shape of the LM
    scorers, where the census (the count frame itself) is free.

    ``hot_keys`` must be tiny (it broadcasts twice): the head of a Zipf
    vocabulary above any sane count threshold is at most a few thousand
    keys regardless of corpus size. AQE's runtime skew split covers the
    same failure mode reactively (measured in BENCH.md §18); this is the
    explicit plan-level fix for when the head is known.
    """
    hot = F.broadcast(hot_keys.select(*keys).withColumn("__hot", F.lit(True)))
    build = (
        counts.join(hot, keys, "left")
        .withColumn(
            "__salt",
            F.explode(
                F.when(
                    F.col("__hot"), F.sequence(F.lit(0), F.lit(n_salts - 1))
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("__hot")
    )
    probe_s = (
        probe.join(hot, keys, "left")
        .withColumn(
            "__salt",
            F.when(
                F.col("__hot"),
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in [salt_src, *keys]]),
                    F.lit(n_salts),
                ),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("__hot")
    )
    return probe_s.join(build, [*keys, "__salt"]).drop("__salt")


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    salt_hot: tuple[int, int] | None = None,
) -> DataFrame:
    """(doc_id, n_bigrams, mean_logprob): corpus-bigram conditional
    language-model score per document — one order up from
    ``unigram_logprob``, the signal that separates "rare words" from
    "rare word SEQUENCES" (shuffled/garbled text keeps its unigram
    score but collapses under a bigram model).

    The model is the corpus itself, MLE with no smoothing needed in
    scope: P(w2|w1) = c(w1,w2) / c(w1 as bigram head), so every scored
    bigram is in-model by construction. ``mean_logprob`` is the mean
    natural log conditional probability over the document's bigram
    positions, NULL for documents with < 2 tokens, rounded to 6 dp.

    Plan shape: one (doc_id, pos, token) explode, one lead() window
    partitioned by doc_id (a document's tokens co-reside by
    construction — no skew), one bigram-key hash-aggregate and one
    head-key hash-aggregate (both collapse map-side), joins back on the
    same keys, then one doc_id aggregate. No global sort anywhere; but
    note the ``bg`` lineage (tokenize + window) has THREE structural
    consumers (c12, c1, the scored join), so without caching the corpus
    tokenization executes three times per action — callers who can
    afford materializing the token stream should persist/localCheckpoint
    ``docs``' exploded form upstream; this operator deliberately does
    not (a corpus-sized checkpoint is a bigger cost than two extra
    map-side scans at 100 TB). The token-key joins are Zipf-head-skewed;
    ``salt_hot_tokens`` (shared with unigram_logprob) splits the
    stopword head explicitly — see that helper's docstring."""
    from pyspark.sql.window import Window as W

    toks = docs.select(
        "doc_id",
        F.posexplode(word_tokens(text_col)).alias("pos", "w1"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    bg = toks.withColumn("w2", F.lead("w1").over(w)).where(
        F.col("w2").isNotNull()
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    withc12 = bg.join(c12, ["w1", "w2"])
    if salt_hot is not None:
        # the c1 (bigram-head) join carries the worst skew — every "the"
        # position probes one key; salt its Zipf head explicitly. The c12
        # join's head ("of the") is the square of two head frequencies
        # over a much larger keyspace — strictly flatter, left to AQE.
        n_salts, hot_min = salt_hot
        joined = salt_hot_tokens(
            withc12, c1, ["w1"], c1.where(F.col("c1") >= hot_min), n_salts
        )
    else:
        joined = withc12.join(c1, "w1")
    scored = (
        joined
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("c12") / F.col("c1"))), 6
            ).alias("mean_logprob"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "mean_logprob",
        )
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    salt_hot: tuple[int, int] | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, mean_logprob): corpus-unigram language-model
    score per document — the cheap perplexity proxy quality filters rank
    on (CCNet-style: documents whose tokens are improbable under the
    corpus's own unigram distribution are noise/garble candidates; ones
    whose tokens are all stopword-grade are boilerplate candidates).

    The model is the corpus itself: P(tok) = term_freq(tok) / N over the
    whitespace tokenization shared with token_counts/token_df_stats, so
    every scored token is in-vocabulary by construction and no smoothing
    constant has to be invented. ``mean_logprob`` is the mean natural
    log-probability over the document's tokens (NULL for token-less
    documents), rounded to 6 dp.

    Plan shape at 100 TB: one explode of (doc_id, token), one token-key
    hash-aggregate for the vocabulary (term_freq collapses map-side), a
    hash join of the exploded stream back to the vocabulary on the token
    key (both sides co-partitioned on that key; vocabulary is Zipf but
    the join is build-side-small per key — AQE's skew split covers the
    stopword head reactively, or pass ``salt_hot=(n_salts, hot_min)``
    to split it explicitly via salt_hot_tokens, measured head-to-head
    in BENCH.md §18), then one doc_id aggregate. The corpus text is
    scanned once; nothing ever sorts globally and the vocabulary — not
    the corpus — is the only broadcast-sized artifact if the optimizer
    picks a broadcast join instead."""
    toks = docs.select(
        "doc_id",
        F.explode(word_tokens(text_col)).alias("token"),
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("tf"))
    n_total = vocab.agg(F.sum("tf").alias("n_total"))
    if salt_hot is not None:
        # salt_hot=(n_salts, hot_min): explicit Zipf-head salting of the
        # token-key join (see salt_hot_tokens). The hot list is the
        # vocabulary's own head — a filter over the already-computed
        # census, so no extra corpus pass beyond the broadcast build
        # (Catalyst reuses the vocab exchange for both consumers).
        n_salts, hot_min = salt_hot
        joined = salt_hot_tokens(
            toks, vocab, ["token"], vocab.where(F.col("tf") >= hot_min), n_salts
        )
    else:
        joined = toks.join(vocab, "token")
    scored = (
        joined
        .crossJoin(F.broadcast(n_total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("tf") / F.col("n_total"))), 6
            ).alias("mean_logprob"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "mean_logprob",
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    text_col: str = "text",
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    salt_hot: tuple[int, int] | None = None,
) -> DataFrame:
    """CCNet-style perplexity partitioning (Wenzek et al. 2020): score
    every document with the corpus-unigram LM (:func:`unigram_logprob`,
    the cheap perplexity proxy), then split the corpus into
    ``len(labels)`` equal-frequency buckets by score — ``head`` = highest
    mean log-probability (lowest perplexity, cleanest), ``tail`` = lowest.
    Output: ``(doc_id, n_tokens, mean_logprob, bucket)``; token-less
    documents have NULL score and NULL bucket (they carry no evidence —
    route them to the Gopher gates, which fail them outright).

    Scale shape — the part that matters at 100 TB: bucketing is NOT a
    global sort or ntile (a global ORDER BY window collapses to one
    partition). Cutpoints are ONE distributed exact-percentile aggregate
    over the scores (partial-agg friendly), broadcast back as a 1-row
    frame, and the bucket label is a map-side comparison against them.
    Boundary determinism: scores are already rounded to 6 dp by
    unigram_logprob; cutpoints are rounded to 6 dp BEFORE the compare,
    and a score exactly equal to a cutpoint goes to the LOWER (worse)
    bucket — both engines replay the same arithmetic bit-for-bit.
    Spark's exact ``percentile`` and DuckDB's ``quantile_cont`` share the
    (n-1)*p linear-interpolation convention, verified by the driver
    oracle. ``salt_hot`` forwards to unigram_logprob's Zipf-head
    salting."""
    n_buckets = len(labels)
    # lazy lineage cut: the cutpoint aggregate AND the labeled output both
    # consume the scored frame — without this the LM join lineage runs
    # twice per action. The checkpoint is narrow (3 cols, one row per doc).
    scored = unigram_logprob(
        docs, text_col=text_col, salt_hot=salt_hot
    ).localCheckpoint(eager=False)
    ps = [i / n_buckets for i in range(1, n_buckets)]
    cuts = scored.where(F.col("mean_logprob").isNotNull()).agg(
        F.transform(
            F.percentile("mean_logprob", ps), lambda c: F.round(c, 6)
        ).alias("__cuts")
    )
    # ascending cutpoints; index = # cutpoints strictly below the score,
    # so labels must be listed worst-first for element_at
    asc_labels = F.array(*[F.lit(s) for s in reversed(labels)])
    idx = F.aggregate(
        F.col("__cuts"),
        F.lit(0),
        lambda acc, c: acc
        + F.when(F.col("mean_logprob") > c, 1).otherwise(0),
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(
            "doc_id",
            "n_tokens",
            "mean_logprob",
            F.when(
                F.col("mean_logprob").isNotNull(),
                F.element_at(asc_labels, idx + 1),
            ).alias("bucket"),
        )
    )


# Gopher rule-filter stopword list (Rae et al. 2021, appendix A1.1): a doc
# must contain at least `min_stopwords` DISTINCT words from this set.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
) -> DataFrame:
    """Gopher-style document quality rule flags (Rae et al. 2021,
    "Scaling Language Models", appendix A1.1) — the standard doc-level
    rule filter a pre-training curation pass runs BEFORE any pairwise
    work:

    - ``pass_words``: word count in [min_words, max_words]
    - ``pass_word_len``: mean word length in [min_mean_word_len,
      max_mean_word_len]
    - ``pass_symbol``: symbol-to-word ratio (``#`` / ``...`` / ``…``)
      <= max_symbol_ratio
    - ``pass_alpha``: fraction of words containing an alphabetic char
      >= min_alpha_word_frac
    - ``pass_stop``: >= min_stopwords DISTINCT stopwords present
    - ``keep``: AND of all five

    Complements quality_features (composite score) and
    repetition_signals (within-doc repetition): these are the hard
    boolean gates. Scale: a single narrow projection — zero shuffles,
    zero joins, all higher-order array functions inside whole-stage
    codegen; at 100 TB this is an embarrassingly parallel scan whose
    cost is the parquet read itself. Ratios are rounded to 6 dp; the
    rule compares use the ROUNDED values so any engine reproducing the
    arithmetic reproduces the booleans bit-for-bit (no boundary jitter
    from double noise).
    """
    t = F.col(text_col)
    words = word_tokens(t)
    n_words = F.size(words)
    nz = F.nullif(n_words, F.lit(0)).cast("double")
    word_chars = F.aggregate(
        words, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    mean_wl = F.round(
        F.coalesce(word_chars.cast("double") / nz, F.lit(0.0)), 6
    )
    n_sym = F.regexp_count(t, F.lit(r"#|\.\.\.|…"))
    sym_r = F.round(F.coalesce(n_sym.cast("double") / nz, F.lit(0.0)), 6)
    n_alpha_w = F.size(
        F.filter(words, lambda x: x.rlike("[a-z]"))
    )
    alpha_f = F.round(
        F.coalesce(n_alpha_w.cast("double") / nz, F.lit(0.0)), 6
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(s) for s in stopwords]),
        )
    )
    out = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_r.alias("symbol_ratio"),
        alpha_f.alias("alpha_word_frac"),
        n_stop.alias("n_stopwords"),
    )
    p_words = (F.col("n_words") >= min_words) & (
        F.col("n_words") <= max_words
    )
    p_wl = (F.col("mean_word_len") >= min_mean_word_len) & (
        F.col("mean_word_len") <= max_mean_word_len
    )
    p_sym = F.col("symbol_ratio") <= max_symbol_ratio
    p_alpha = F.col("alpha_word_frac") >= min_alpha_word_frac
    p_stop = F.col("n_stopwords") >= min_stopwords
    return out.select(
        "*",
        p_words.alias("pass_words"),
        p_wl.alias("pass_word_len"),
        p_sym.alias("pass_symbol"),
        p_alpha.alias("pass_alpha"),
        p_stop.alias("pass_stop"),
        (p_words & p_wl & p_sym & p_alpha & p_stop).alias("keep"),
    )
