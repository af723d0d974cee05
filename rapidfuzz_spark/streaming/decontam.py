"""Streaming eval-set decontamination: flag documents against a STATIC
benchmark gram set as they arrive — the shape new crawl data takes
through a curation pipeline (the eval sets are fixed; the corpus is the
stream).

The decision is per-document with no cross-document state, so the
streaming form is the BATCH ``textops.training.decontaminate`` made
map-side: the eval gram set ships as a plan literal (benchmark suites
are bounded — a few thousand to a few million grams; collect once with
``collect_eval_grams``) and each arriving document's distinct grams
intersect it in a single project. Zero shuffle, zero state store,
append-mode-safe on any source, and batch-split invariant by
construction (each doc is decided alone), which is what makes the
cumulative streaming output EQUAL to the batch operator's — the driver
query's full SQL value oracle is the batch oracle verbatim.

For eval sets too large for a plan literal, run the batch
``decontaminate(batch_df, eval_docs)`` inside ``foreachBatch`` instead
(stream-static broadcast join per micro-batch — the stream_neardup
pattern); the literal path is the right one up to roughly a million
grams (a 16-byte-hash array literal, well under broadcast sizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..textops.dedup import word_ngram_hashes
from ..textops.training import _eval_grams

__all__ = ["collect_eval_grams", "stream_decontaminate"]


def collect_eval_grams(
    eval_docs: DataFrame, n: int = 13, text_col: str = "text"
) -> list:
    """Distinct word-``n``-gram md5 hashes of the (static, bounded)
    eval/benchmark set — the batch rules' eval gram set — collected once
    for ``stream_decontaminate``'s plan literal. Sorted for a
    deterministic plan."""
    rows = _eval_grams(eval_docs, n, text_col).select("h").collect()
    return sorted(r["h"] for r in rows)


def stream_decontaminate(
    docs: DataFrame,
    eval_grams: list,
    n: int = 13,
    min_hits: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hits, contaminated) per arriving document — the batch
    ``decontaminate`` contract (``n_hits`` = DISTINCT eval grams
    contained, docs shorter than ``n`` tokens clean by construction),
    computed entirely map-side so it composes into any streaming query
    in append mode. ``docs`` may equally be a batch frame (the batch
    plan is then a single codegen'd project — no join at all), which is
    how the equality test pins streaming ≡ batch."""
    ev = F.lit(list(eval_grams)).cast("array<string>")
    hits = F.size(
        F.array_intersect(
            F.array_distinct(word_ngram_hashes(text_col, n=n)), ev
        )
    ).cast("long")
    return docs.select(
        "doc_id",
        hits.alias("n_hits"),
        (hits >= min_hits).alias("contaminated"),
    )
