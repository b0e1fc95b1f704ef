"""Source/sink format breadth: parquet, orc, csv, json round-trips must be
value-identical for a representative typed frame (strings incl. quoting
hazards, longs, doubles)."""

from __future__ import annotations

import pytest

from dic_a1_spark.sources.readers import load_table, write_read_format
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_format_roundtrip(spark, fmt, tmp_path):
    src = (
        load_table(spark, SF_SMOKE, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .limit(200)
    )
    out = str(tmp_path / fmt)
    back = write_read_format(src, out, fmt, schema=src.schema)
    a = sorted(tuple(r) for r in src.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b, f"{fmt} round-trip altered values"


def test_read_reviews_json_edge_shapes(spark, tmp_path):
    """read_reviews_json's tolerance and default semantics on the edge
    shapes of line-delimited review JSON: defaults apply to missing or
    null fields only (an explicit empty string stays), non-string values
    keep their JSON text, and non-object or malformed lines are skipped."""
    from dic_a1_spark.sources.readers import read_reviews_json

    path = tmp_path / "reviews.json"
    path.write_text(
        "\n".join(
            [
                '{"category": null, "reviewText": "null cat defaults"}',
                '{"reviewText": "missing cat defaults"}',
                '{"category": "nt"}',
                '{"category": "", "reviewText": "empty cat stays empty"}',
                '{"category": "ok", "reviewText": ""}',
                '{"category": 123, "reviewText": 456}',
                '{"category": ["a","b"], "reviewText": true}',
                "[1, 2, 3]",
                '{"category": "oops", broken',
                "not json at all",
            ]
        )
        + "\n"
    )
    got = sorted(
        (r["category"], r["reviewText"])
        for r in read_reviews_json(spark, str(path))
        .select("category", "reviewText")
        .collect()
    )
    assert got == sorted(
        [
            ("Unknown", "null cat defaults"),
            ("Unknown", "missing cat defaults"),
            ("nt", ""),
            ("", "empty cat stays empty"),
            ("ok", ""),
            ("123", "456"),
            ('["a","b"]', "true"),
        ]
    )
