"""Text-normalization building blocks (SURVEY.md §2.2 P2-P6, §2.7 F2).

All pure ``Column`` expressions — they stay inside whole-stage codegen, no
Python in the hot path. Semantics reproduce the reference tokenizer
(src/wordCountJob.py:51-79) exactly:

  lower -> translate(punct/digits/tab/apostrophe -> space) -> whitespace
  split -> per-document DISTINCT -> drop empty -> drop stopwords

including the quirk that ``<`` and ``>`` are NOT translated and survive as
tokens (SURVEY.md P3). The per-document distinct is what makes the counts
**document frequency** rather than term frequency (reference
src/wordCountJob.py:75 builds a ``set``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dic_a1_spark.config import SPARK_WS_REGEX, STOPWORDS, TOKEN_CHARS


def normalize_text(col: Column) -> Column:
    """Case-fold and map the reference's punctuation/digit set to spaces."""
    return F.translate(F.lower(col), TOKEN_CHARS, " " * len(TOKEN_CHARS))


def tokenize(col: Column) -> Column:
    """Normalized whitespace tokenization -> array<string> (may contain
    empty strings from leading/trailing separators; callers filter).
    Splits on Python's str.split() whitespace set (unicode), not Java's
    ASCII ``\\s`` — verified against the plain-Python reference tokenizer
    on an adversarial corpus in tests/test_tokenizer_fuzz.py."""
    return F.split(normalize_text(col), SPARK_WS_REGEX)


def tokens_nonempty(col: Column) -> Column:
    """Tokenize and drop empty tokens — the Spark twin of
    ``config.duckdb_tokens_sql`` (whose list_filter always drops
    ``''``). Use THIS, not raw ``tokenize()``, in oracle-gated
    operators: raw tokenize keeps ''-tokens from leading/trailing
    separators, forking the two engines' token arrays on any text with
    edge punctuation (vacuously equal on the driver corpus, a real
    divergence on general text)."""
    return F.filter(tokenize(col), lambda w: w != "")


def tokens_distinct(col: Column) -> Column:
    """Tokenize with per-document dedup — ``array_distinct`` BEFORE the
    explode is the algebraic form of the reference's in-mapper ``set()``
    (src/wordCountJob.py:75): it shrinks the exploded row count and with it
    the shuffle that feeds the (word, category) aggregation."""
    return F.array_distinct(tokenize(col))


def explode_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """documents-with-text -> one row per (doc, distinct token) in column
    ``word``, empties dropped."""
    return (
        df.withColumn("word", F.explode(tokens_distinct(F.col(text_col))))
        .where(F.col("word") != "")
        .drop(text_col)
    )


def remove_stopwords(df: DataFrame) -> DataFrame:
    """Stopword filter on ``word`` (reference src/wordCountJob.py:77). For
    the constant built-in list this is a codegen'd ``NOT IN``; a file-backed
    list goes through a broadcast ``left_anti`` join instead (see
    operators.chisq.remove_stopwords_df)."""
    return df.where(~F.col("word").isin(list(STOPWORDS)))


def chi2_expr(a: Column, b: Column, c: Column, d: Column, n: Column) -> Column:
    """The 2x2-contingency chi-square statistic (reference
    src/chiSquaredJob.py:84-93, formula in report p.4):

        chi2 = N * (A*D - B*C)^2 / ((A+B)(A+C)(B+D)(C+D))

    A = docs in category containing word, B = docs elsewhere containing
    word, C = category docs without word, D = the rest. Inputs are exact
    integer counts cast to double; the expression is written with fixed
    association so independent engines (the DuckDB oracle) produce
    bit-identical doubles.
    """
    a, b, c, d, n = [x.cast("double") for x in (a, b, c, d, n)]
    num = n * ((a * d - b * c) * (a * d - b * c))
    den = ((a + b) * (a + c)) * ((b + d) * (c + d))
    return num / den


def zero_margin_filter(a: Column, b: Column, c: Column, d: Column) -> Column:
    """Predicate excluding degenerate contingency tables (reference
    src/chiSquaredJob.py:91-92 skips when any marginal is zero)."""
    return ((a + b) != 0) & ((a + c) != 0) & ((b + d) != 0) & ((c + d) != 0)
