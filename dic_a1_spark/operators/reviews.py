"""End-to-end Amazon-reviews chi-square pipeline — the reference's actual
workload (reviews JSON in, 23-line golden text out), Spark-native.

Built from operators/chisq.py's scoring and rank steps, fed from
line-delimited reviews JSON with the reference's exact tolerance and
default semantics, a file-backed stopword list (broadcast anti-join), the
counters side-channel as an in-DAG aggregate, and the reference's raw-text
output format.

Reference trace (SURVEY.md §3): the whole two-job mrjob flow
(wordCountJob.py + wordCountWrapper.py + chiSquaredJob.py + main.sh
plumbing) collapses into ONE lazy DAG plus two driver-side collects of
dimension-sized aggregates (top-k: at most k rows per category, from which
the vocabulary line is also rendered; counters: |categories| rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dic_a1_spark.config import CHI2_TOP_K
from dic_a1_spark.functions.text import explode_tokens, remove_stopwords
from dic_a1_spark.operators.chisq import (
    category_totals,
    format_golden_lines,
    rank_topk,
    remove_stopwords_df,
    score_counts,
    vocab_union,
)
from dic_a1_spark.sources.readers import read_reviews_json, read_stopwords
from dic_a1_spark.sources.sinks import format_counters_line


def reviews_to_docs(spark: SparkSession, reviews_path: str) -> DataFrame:
    """Reviews JSON -> (doc_id, category, text) with reference semantics:
    malformed lines silently skipped, category default 'Unknown', text
    default '' (reference src/wordCountJob.py:62-72)."""
    return read_reviews_json(spark, reviews_path).select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("category"),
        F.col("reviewText").alias("text"),
    )


def reviews_chisq(
    spark: SparkSession,
    reviews_path: str,
    stopwords_path: str | None = None,
    k: int = CHI2_TOP_K,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (topk, vocab, counters) DataFrames for the reviews corpus.

    The doc frequency differs from operators.chisq.doc_frequency only in
    its stopword source (the file, when given); scoring and ranking are
    operators.chisq's. Counters (total + per-category review counts) are
    exact in-DAG aggregates — the Spark replacement for the reference's
    Hadoop counter side channel (src/wordCountWrapper.py:32-50), which is
    retry-safe where Spark accumulators would not be."""
    docs = reviews_to_docs(spark, reviews_path)

    tok = explode_tokens(docs, text_col="text")
    if stopwords_path is not None:
        tok = remove_stopwords_df(tok, read_stopwords(spark, stopwords_path))
    else:
        tok = remove_stopwords(tok)
    wc = tok.groupBy("word", "category").agg(F.count("*").alias("n"))

    cat = category_totals(docs)
    topk = rank_topk(score_counts(wc, cat), k)
    total = cat.agg(F.sum("cat_n").alias("n_total"))
    counters = cat.crossJoin(F.broadcast(total))
    return topk, vocab_union(topk), counters


def run_pipeline(
    spark: SparkSession,
    reviews_path: str,
    output_dir: str,
    stopwords_path: str | None = None,
    k: int = CHI2_TOP_K,
) -> list[str]:
    """Full job: compute, write golden-format output + counters.txt, and
    return the output lines. Mirrors main.sh's artifact layout: a result
    text file (22 category lines + union vocabulary line, reference
    src/chiSquaredJob.py:110-127) and the counters side file
    (src/wordCountWrapper.py:49-50). Two Spark actions: the vocabulary
    line is rendered from the collected top-k rows, not computed again."""
    topk, _, counters = reviews_chisq(spark, reviews_path, stopwords_path, k)
    topk_rows = topk.collect()
    crows = counters.collect()

    lines = format_golden_lines(topk_rows, (r["word"] for r in topk_rows))
    os.makedirs(output_dir, exist_ok=True)
    with open(os.path.join(output_dir, "chisq_output.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    total = crows[0]["n_total"] if crows else 0
    per_cat = {r["category"]: r["cat_n"] for r in crows}
    with open(os.path.join(output_dir, "counters.txt"), "w") as fh:
        fh.write(format_counters_line(total, per_cat) + "\n")
    return lines
