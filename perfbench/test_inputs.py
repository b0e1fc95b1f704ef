"""Checks of the benchmark's own inputs and oracles (no Spark needed):

- the same seed writes byte-identical inputs, a different seed other ones;
- the review corpus has the documented shape;
- the NumPy restatement of the ``dedup_minhash_groups`` oracle equals the
  registry's DuckDB oracle.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import expected  # noqa: E402
import inputs  # noqa: E402


@pytest.mark.parametrize("write", [inputs.write_reviews, inputs.write_tables])
def test_seed_determines_input_bytes(tmp_path, write):
    dirs = {name: tmp_path / name for name in ("a", "b", "c")}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        dirs[name].mkdir()
        write(str(dirs[name]), seed)
    files = sorted(os.listdir(dirs["a"]))
    assert files and files == sorted(os.listdir(dirs["b"]))
    for f in files:
        assert (dirs["a"] / f).read_bytes() == (dirs["b"] / f).read_bytes(), f
    assert any((dirs["a"] / f).read_bytes() != (dirs["c"] / f).read_bytes() for f in files)


def test_review_corpus_shape(tmp_path):
    m = inputs.write_reviews(str(tmp_path), 1)
    counts = m["category_counts"]
    assert sorted(counts) == sorted(inputs.CATEGORIES)
    assert 0.25 < counts["Book"] / m["valid_lines"] < 0.31
    assert 0.005 < 1 - m["valid_lines"] / m["lines"] < 0.02
    with open(m["stopwords_path"], encoding="utf-8") as fh:
        stop = fh.read().splitlines()
    assert len(stop) == inputs.STOPWORD_LINES > len(set(stop))
    with open(m["reviews_path"], encoding="utf-8") as fh:
        text = fh.read()
    assert "<" in text and ">" in text and "€" in text


def test_minhash_groups_equal_the_duckdb_oracle(tmp_path):
    inputs.write_tables(str(tmp_path), 3)
    names = ["dedup_minhash_groups"]
    fast = expected.oracle_results(str(tmp_path), names)
    duck = expected.oracle_results(str(tmp_path), names, duckdb_dedup=True)
    assert fast == duck
    groups = {g for _, g in fast[names[0]]["rows"]}
    assert len(groups) < inputs.DOCS_N  # the planted clusters were found
