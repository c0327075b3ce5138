"""Benchmark decontamination: flag training documents that overlap an
evaluation set by any shared word n-gram.

The standard pretraining hygiene step (popularised by GPT-3/PaLM data cards):
a document is *contaminated* if any length-``n`` token window of its text
also occurs in a benchmark document. ``n`` defaults to 13, the value the
published pipelines converged on — long enough that chance collisions are
negligible, short enough to catch partial quotes.

Scale design: the benchmark side is small by definition (eval sets are
thousands of documents, the corpus is billions), so its distinct-gram set is
**broadcast** and the corpus side never shuffles its grams — the explode
streams map-side through a broadcast hash join and only *hit* rows
(contaminated-gram occurrences, a vanishing fraction) reach the one
aggregation shuffle, keyed by doc id. The final left join re-attaches hit
counts to the corpus by id; its right side (ids with >=1 hit) is small, so
AQE turns it into a broadcast join too — at no point does anything
corpus-sized shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wpextract_spark.operators.dedup import _words, word_ngrams

#: Default contamination window, in whitespace tokens.
NGRAM_N = 13


def benchmark_grams(
    benchmark: DataFrame, text_col: str = "text", n: int = NGRAM_N
) -> DataFrame:
    """Distinct contamination grams of the benchmark set: one ``gram``
    column, ready to broadcast."""
    grams = word_ngrams(_words(text_col, lower=True), n)
    return benchmark.select(F.explode(grams).alias("gram")).distinct()


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = NGRAM_N,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Per-document contamination verdict against ``benchmark``.

    Output: ``(id, n_contaminated_grams, contaminated)`` for every input
    document — the count of n-gram occurrences (with multiplicity on the
    document side) that appear anywhere in the benchmark, and the boolean
    cut a pipeline would filter on.
    """
    grams = benchmark_grams(benchmark, bench_text_col, n)
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(word_ngrams(_words(text_col, lower=True), n)).alias("gram"),
    )
    hits = (
        doc_grams.join(F.broadcast(grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_grams"))
    )
    return docs.select(id_col).join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_contaminated_grams", F.lit(0)).alias(
            "n_contaminated_grams"
        ),
        (F.coalesce("n_contaminated_grams", F.lit(0)) > 0).alias(
            "contaminated"
        ),
    )
