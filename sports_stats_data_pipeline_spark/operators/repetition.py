"""Per-document top n-gram repetition statistics (Gopher-style quality
rule: "fraction of characters in the most common n-gram").

Unlike the per-row signals in ``doc_text_profile`` (duplicate-line
fraction etc., all linear per row), the most-frequent-n-gram statistic
needs a per-(doc, gram) count — computing it inside an array expression
would be O(n_tokens²) per row, which dies on long documents. The
scale-correct shape is the classic explode + two-level aggregate:

  scan → posexplode n-grams (fan-out ≈ n_tokens)
       → groupBy(doc, gram) count      (shuffle 1 — map-side combinable)
       → groupBy(doc) max(struct)      (shuffle 2 — tiny, one row/gram)

Both aggregates partially aggregate before the exchange, so network
volume is bounded by the number of *distinct* (doc, gram) pairs, not
token count. Ties on the max count break deterministically by gram
string (lexicographically largest wins via the struct ordering) —
stable across partitionings, retries, and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def top_ngram_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Most frequent word ``n``-gram per document.

    Output: one row per document —
    ``(id_col, top_gram, top_gram_count, top_gram_char_bp)`` where
    ``top_gram_char_bp`` is the integer basis-point share of document
    characters covered by all occurrences of the top gram
    (``floor(10000 * count * length(gram) / n_chars)``), the quantity
    Gopher thresholds (e.g. drop if top 2-gram covers > 20% of chars).

    Documents shorter than ``n`` tokens contribute their whole token
    sequence as the single gram (count 1) — every input row yields
    exactly one output row.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    from ..functions.text import let1, token_grams

    # let1-bound split: an index lambda re-evaluates the split per gram
    # (O(tokens²) per row — see functions.text.let1).
    grams = let1(
        tokens(text_col),
        lambda toks: F.when(
            F.size(toks) >= n, token_grams(toks, n)
        ).otherwise(F.array(F.concat_ws(" ", toks))),
    )
    # doc length joins back AFTER the aggregates (doc-count-sized join):
    # as a projection sibling of the explode it would be re-evaluated
    # per gram row — O(n_chars · n_grams) per document (the Generate-
    # sibling trap documented in operators/search.py).
    exploded = docs.select(F.col(id_col), F.explode(grams).alias("gram"))
    counts = exploded.groupBy(id_col, "gram").agg(
        F.count("*").alias("__cnt")
    )
    top = counts.groupBy(id_col).agg(
        F.max(F.struct(F.col("__cnt"), F.col("gram"))).alias("__top")
    )
    lens = docs.select(
        F.col(id_col), F.length(text_col).cast("long").alias("__chars")
    )
    return top.join(lens, id_col).select(
        id_col,
        F.col("__top.gram").alias("top_gram"),
        F.col("__top.__cnt").cast("long").alias("top_gram_count"),
        F.floor(
            F.lit(10000)
            * F.col("__top.__cnt")
            * F.length("__top.gram")
            / F.col("__chars")
        )
        .cast("long")
        .alias("top_gram_char_bp"),
    )
