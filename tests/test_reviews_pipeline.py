"""End-to-end reviews pipeline test against an independent plain-Python
implementation of the reference semantics (tests/reference_impl.py)."""

from __future__ import annotations

import json
import math
import random

import pytest

from tests import reference_impl

CATS = ["Book", "Electronic", "Home_and_Kitche"]  # incl. truncated-name quirks
VOCAB = [
    "spark", "shuffle", "parquet", "catalyst", "tungsten", "codegen",
    "window", "broadcast", "partition", "lineage", "barrier", "skew",
]
STOP = ["the", "and", "a", "of"]


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    rng = random.Random(7)
    base = tmp_path_factory.mktemp("reviews")
    lines = []
    for i in range(120):
        cat = CATS[i % 3] if i % 17 else None  # some records missing category
        words = rng.sample(VOCAB, rng.randint(2, 6)) + rng.sample(STOP, 2)
        words += [words[0]] * 2  # repeated word: per-review dedup must collapse
        text = " ".join(words)
        # punctuation storm incl. chars NOT in the translate set (<>)
        text = text.replace(" ", ", ", 1) + " (2024) don't <great> 100% €5 §2"
        rec = {"reviewText": text, "overall": 5.0, "asin": f"A{i}"}
        if cat is not None:
            rec["category"] = cat
        if i % 29 == 0:
            rec.pop("reviewText")  # missing text -> default ''
        lines.append(json.dumps(rec))
        if i % 23 == 0:
            lines.append('{"category": "Book", "reviewText": broken')  # corrupt
    reviews = base / "reviews.json"
    reviews.write_text("\n".join(lines) + "\n")
    stops = base / "stopwords.txt"
    stops.write_text("\n".join(STOP + ["the", "and"]) + "\n")  # with dup lines
    return str(reviews), str(stops), lines


def test_reviews_pipeline_matches_reference_semantics(spark, fixture_paths, tmp_path):
    from dic_a1_spark.operators.reviews import run_pipeline, reviews_chisq

    reviews_path, stopwords_path, lines = fixture_paths
    expected, exp_total, exp_cats = reference_impl.pipeline(
        lines, set(STOP), k=75
    )

    topk, vocab, counters = reviews_chisq(spark, reviews_path, stopwords_path, k=75)
    got: dict[str, dict[str, float]] = {}
    for r in topk.collect():
        got.setdefault(r["category"], {})[r["word"]] = r["chi2"]

    assert set(got) == set(expected)
    for cat in expected:
        assert set(got[cat]) == set(expected[cat]), f"word set mismatch in {cat}"
        for w, chi in expected[cat].items():
            assert math.isclose(got[cat][w], chi, rel_tol=1e-12), (cat, w)

    crow = counters.collect()
    assert crow[0]["n_total"] == exp_total
    assert {r["category"]: r["cat_n"] for r in crow} == exp_cats


def test_run_pipeline_writes_reference_files(spark, fixture_paths, tmp_path, monkeypatch):
    """run_pipeline's two written files against the plain-Python reference:
    every category line holds the reference's top-k words with chi2 within
    1e-12 relative, the vocabulary line is exact, counters.txt holds the
    reference's counts — and the whole job costs two collects."""
    import ast

    from pyspark.sql.classic.dataframe import DataFrame

    from dic_a1_spark.operators.reviews import run_pipeline
    from dic_a1_spark.sources.sinks import parse_counters_line

    reviews_path, stopwords_path, lines = fixture_paths
    expected, exp_total, exp_cats = reference_impl.pipeline(lines, set(STOP), k=75)

    collects = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        collects.append(self)
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    run_pipeline(spark, reviews_path, str(tmp_path), stopwords_path)
    monkeypatch.undo()
    assert len(collects) == 2

    written = (tmp_path / "chisq_output.txt").read_text().splitlines()
    *cat_lines, vocab_line = written
    assert [ln.split("\t", 1)[0] for ln in cat_lines] == sorted(expected)
    for ln in cat_lines:
        cat, body = ln.split("\t", 1)
        got = ast.literal_eval(body)
        assert set(got) == set(expected[cat]), f"word set mismatch in {cat}"
        for w, chi in expected[cat].items():
            assert math.isclose(got[w], chi, rel_tol=1e-12), (cat, w)
    assert vocab_line == str(sorted({w for top in expected.values() for w in top}))

    total, per_cat = parse_counters_line((tmp_path / "counters.txt").read_text())
    assert total == exp_total and per_cat == exp_cats


def test_tokenizer_quirks(spark, fixture_paths):
    """`<`/`>` survive; digits/punct/apostrophes split; stopwords gone;
    defaults applied (SURVEY.md P1-P6 incl. the translate-set quirk)."""
    from dic_a1_spark.operators.reviews import reviews_to_docs
    from dic_a1_spark.functions.text import explode_tokens, remove_stopwords

    reviews_path, _, _ = fixture_paths
    docs = reviews_to_docs(spark, reviews_path)
    words = {
        r["word"]
        for r in remove_stopwords(explode_tokens(docs)).select("word").distinct().collect()
    }
    assert "<great>" in words          # <> not in the translate set
    assert "don" in words and "t" in words  # apostrophe splits
    assert "2024" not in words         # digits -> space
    assert "€5" not in words and "the" not in words
    cats = {r["category"] for r in docs.select("category").distinct().collect()}
    assert "Unknown" in cats           # missing category default


def test_cli_end_to_end(fixture_paths, tmp_path):
    import subprocess, sys, json as _json

    reviews_path, stopwords_path, _ = fixture_paths
    out = tmp_path / "out"
    proc = subprocess.run(
        [sys.executable, "-m", "dic_a1_spark.cli", "chisq",
         "--input", reviews_path, "--output", str(out),
         "--stopwords", stopwords_path],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    payload = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert payload["output_lines"] == 5  # 4 categories (incl Unknown) + vocab line
    text = (out / "chisq_output.txt").read_text().splitlines()
    assert len(text) == 5 and text[-1].startswith("[")
    from dic_a1_spark.sources.sinks import parse_counters_line

    total, per_cat = parse_counters_line((out / "counters.txt").read_text())
    assert total > 0 and set(per_cat) >= {"Book", "Electronic", "Unknown"}


REFERENCE_STOPWORDS = "/root/reference/src/data/stopwords.txt"


def test_full_reference_stopword_file_parity(spark, tmp_path):
    """Closes the stopword-fidelity gap: run the pipeline with the actual
    596-line reference stopwords.txt (duplicates in file, set lookup —
    reference src/wordCountJob.py:41-48 semantics) and assert parity with
    the plain-Python reimplementation using the same file."""
    import os

    if not os.path.isfile(REFERENCE_STOPWORDS):
        pytest.skip("reference stopwords.txt not available")

    with open(REFERENCE_STOPWORDS) as fh:
        stopset = {line.strip() for line in fh if line.strip()}
    assert len(stopset) >= 500  # the real list, not a surrogate

    # corpus salted with real reference stopwords ('about', 'able',
    # 'zero', ...) so the filter provably uses the full file
    rng = random.Random(13)
    stop_sample = sorted(stopset)[::37]  # ~16 words spread across the file
    lines = []
    for i in range(90):
        cat = CATS[i % 3]
        words = rng.sample(VOCAB, rng.randint(3, 6)) + rng.sample(stop_sample, 4)
        rec = {"category": cat, "reviewText": " ".join(words)}
        lines.append(json.dumps(rec))
    reviews = tmp_path / "reviews_refstop.json"
    reviews.write_text("\n".join(lines) + "\n")

    from dic_a1_spark.operators.reviews import reviews_chisq

    expected, exp_total, exp_cats = reference_impl.pipeline(lines, stopset, k=75)
    topk, vocab, counters = reviews_chisq(
        spark, str(reviews), REFERENCE_STOPWORDS, k=75
    )
    got: dict[str, dict[str, float]] = {}
    for r in topk.collect():
        got.setdefault(r["category"], {})[r["word"]] = r["chi2"]

    assert set(got) == set(expected)
    for cat in expected:
        assert set(got[cat]) == set(expected[cat]), f"word set mismatch in {cat}"
        for w, chi in expected[cat].items():
            assert math.isclose(got[cat][w], chi, rel_tol=1e-12), (cat, w)
    # none of the planted stopwords may survive into any top-k list
    surviving = {w for cat in got for w in got[cat]} & stopset
    assert not surviving, f"stopwords leaked through: {surviving}"

    crow = counters.collect()
    assert crow[0]["n_total"] == exp_total
    assert {r["category"]: r["cat_n"] for r in crow} == exp_cats
