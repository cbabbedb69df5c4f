"""Benchmark decontamination — flag training documents that overlap an
evaluation set, the contamination-control stage of the public LLM-data
canon (GPT-3, Brown et al. 2020 App. C: 13-gram overlap removal;
Gopher, Rae et al. 2021 §A.3; Llama 2, Touvron et al. 2023 §A.6 all
ship a variant of "drop the training page that shares a long n-gram
with the eval set").

Pinned semantics (replayed exactly by the ``benchmark_decontam``
oracle in plans/catalog.py):

* tokenization is the repo's standard word split — lowercase, trim,
  split on ``\\s+``, empty tokens dropped (NULL text → zero words);
* a document's gram set is its DISTINCT word-level ``n``-grams
  (default n=13, the GPT-3/Gopher constant), joined with single
  spaces; a document with 0 < words < n contributes its whole word
  sequence as one gram (the short-doc convention shared with
  ``ngram_jaccard_pairs``), and a wordless document has no grams and
  can never be contaminated;
* the benchmark's gram set is the distinct union of the same
  construction over every benchmark row, with empty grams dropped so
  blank eval rows cannot contaminate blank pages;
* ``n_hits`` counts the document's distinct grams that appear in the
  benchmark set; ``contaminated`` is ``n_hits > 0`` — the paper rule
  is a hard drop on any overlap.

Scale shape: the benchmark side is an eval suite — thousands to a few
million grams — so it broadcasts; the document side is one narrow
projection (word split, per-row gram fold, ``array_distinct`` per row)
whose explode feeds a broadcast hash join that flags the grams that
HIT the benchmark. One doc-keyed count then yields both totals; the
grams of a doc all come from one input row, so the map-side combine
leaves one slim (doc_id, n_grams, n_hits) partial per doc before the
only exchange — no (doc, gram) row and no text ever moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from n8n_tools_api_spark.operators.dsir import split_words


def _grams_of(words, n: int):
    """DISTINCT word n-grams from a word array.  ``words`` MUST be a
    bound column attribute, and the gram array must be consumed by an
    explode sitting directly on the projection that binds it (the
    dsir ``exploded_buckets`` shape): Spark does no common-subexpression
    elimination inside higher-order-function lambdas, and two adjacent
    projections are merged by CollapseProject, which inlines the split
    into every gram lambda — O(words²) per doc (the lm_ppx 17×
    finding). A Generate node between the projections blocks the
    merge."""
    nw = F.size(words)
    grams = (
        F.when(nw == 0, F.array().cast("array<string>"))
        .when(nw < n, F.array(F.array_join(words, " ")))
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), nw - (n - 1)),
                lambda i: F.array_join(F.slice(words, i, n), " "),
            )
        )
    )
    return F.array_distinct(grams)


def benchmark_grams(bench: DataFrame, n: int = 13,
                    text_col: str = "text") -> DataFrame:
    """Distinct non-empty word ``n``-grams of an eval set: (gram)."""
    return (
        bench.select(split_words(F.col(text_col)).alias("_ws"))
        .select(F.explode(_grams_of(F.col("_ws"), n)).alias("gram"))
        .where(F.col("gram") != "")
        .distinct()
    )


def ngram_decontaminate(docs: DataFrame, bench: DataFrame, n: int = 13,
                        id_col: str = "doc_id", text_col: str = "text",
                        bench_text_col: str = "text") -> DataFrame:
    """Per-document benchmark-overlap report.

    Output: (doc_id, n_grams, n_hits, contaminated) — one row per
    input document; ``n_grams`` is the size of the doc's distinct gram
    set, ``n_hits`` how many of those grams appear in the benchmark,
    ``contaminated`` the hard-drop flag. Keep-list = NOT contaminated.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    bgrams = benchmark_grams(bench, n=n, text_col=bench_text_col) \
        .withColumn("_hit", F.lit(1))
    # explode_OUTER keeps a wordless doc as one NULL-gram row, so the
    # per-doc count covers every input document with no join back
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        split_words(F.col(text_col)).alias("_ws"),
    ).select(
        "doc_id",
        F.explode_outer(_grams_of(F.col("_ws"), n)).alias("gram"),
    )
    return (
        grams.join(F.broadcast(bgrams), "gram", "left")
        .groupBy("doc_id")
        .agg(F.count("gram").cast("bigint").alias("n_grams"),
             F.count("_hit").cast("bigint").alias("n_hits"))
        .select("doc_id", "n_grams", "n_hits",
                (F.col("n_hits") > 0).alias("contaminated"))
    )
