"""Build orchestration (ScdTable / scd_build): initial vs incremental
decisions, full refresh, atomic parquet swap."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_scd2_utils_spark import ScdConfig
from dbt_scd2_utils_spark.operators.invariants import assert_invariants
from dbt_scd2_utils_spark.plans.build import ScdTable, scd_build
from tests.fixtures.seeds import CUSTOMERS_RAW, CUSTOMERS_SCHEMA

CFG = ScdConfig(unique_key=("customer_id",), deleted_at_column="deleted_at")


def test_build_sequence_and_full_refresh(spark, tmp_path):
    path = str(tmp_path / "customers_scd2")
    table = ScdTable(spark, path, CFG)
    assert not table.exists()

    b1 = spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA)
    out1 = table.build(b1)
    assert table.exists()
    n1 = out1.count()
    assert n1 > 0
    assert_invariants(out1, CFG)

    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    out2 = table.build(b2)  # incremental (target exists)
    assert out2.count() > n1
    assert_invariants(out2, CFG)

    # Full refresh discards history and rebuilds from the given batch only.
    out3 = table.build(b1, full_refresh=True)
    assert out3.count() == n1


def test_scd_build_functional(spark, tmp_path):
    path = str(tmp_path / "scd1_table")
    b1 = spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA).drop("deleted_at")
    out = scd_build(
        spark, b1, path, config={"unique_key": ["customer_id"], "scd_type": 1}
    )
    n1 = out.count()
    assert n1 == out.select("customer_id").distinct().count()
    # incremental second run via the same path (out's file handle is stale
    # after the atomic swap — capture counts before rebuilding)
    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA).drop("deleted_at")
    out2 = scd_build(
        spark, b2, path, config={"unique_key": ["customer_id"], "scd_type": 1}
    )
    assert out2.count() >= n1
    assert out2.filter(~F.col("_is_current")).count() == 0


def test_swap_cut_between_renames_keeps_history(spark, tmp_path):
    """A vanilla write swaps the table directory in two renames (table ->
    ``__old``, ``__tmp`` -> table), then deletes ``__old``.  A crash
    between the renames leaves no table; the next build must put the
    previous table back and merge into it, not initial-load its batch
    alone and delete ``__old``.  A crash before the delete leaves a stale
    ``__old``; the next build must remove it, not fail its own swap on
    it."""
    import os
    import shutil

    batches = [
        spark.createDataFrame(CUSTOMERS_RAW[i], CUSTOMERS_SCHEMA) for i in (1, 2, 3, 4)
    ]
    path = str(tmp_path / "cut")
    cut = ScdTable(spark, path, CFG)
    cut.build(batches[0])
    cut.build(batches[1])
    # The third write crashed between the renames: its staged table is
    # half written, and the first rename has happened.
    os.rename(path, path + "__old")
    os.makedirs(path + "__tmp")
    open(os.path.join(path + "__tmp", "part-00000.parquet"), "w").close()
    cut.build(batches[2])
    assert not os.path.exists(path + "__old")
    # The third write crashed before its delete: the table it replaced
    # still sits at __old.
    shutil.copytree(path, path + "__old")
    out = cut.build(batches[3])

    clean = ScdTable(spark, str(tmp_path / "clean"), CFG)
    for b in batches:
        expected = clean.build(b)
    assert not os.path.exists(path + "__old")
    assert out.exceptAll(expected).count() == 0
    assert expected.exceptAll(out).count() == 0
