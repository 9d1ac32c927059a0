"""Local stand-in for the driver's correctness gate: run every queries()
entry at sf0.01 via Spark AND its oracle_sql() twin via DuckDB, compare
row count + column set + order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create view {t} as select * from '{SF_DIR}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive canonical form: stringified cells, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None:
            return "∅"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, float):
            if math.isnan(v):
                return "∅"
            return repr(round(v, 9))
        if pd.isna(v):
            return "∅"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    rows = [tuple(cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


# The handful of multi-minute parity cases run only under `-m slow`
# (pytest.ini excludes them from the driver-window default run); the
# driver's own correctness gate still covers them cold every round.
SLOW_QUERIES = {
    "cluster_balanced_sample",
    "semantic_dedup_pq",
    "semantic_dedup",
    "bpe_learn_merges_100",
}
# Drift check: a renamed or removed query must not leave a stale entry
# that silently marks nothing slow.
assert SLOW_QUERIES <= set(entry_mod.queries()), (
    SLOW_QUERIES - set(entry_mod.queries())
)

QUERY_NAMES = [
    pytest.param(n, marks=pytest.mark.slow) if n in SLOW_QUERIES else n
    for n in sorted(entry_mod.queries().keys())
]


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    oracles = entry_mod.oracle_sql()
    sdf = q(spark, SF_DIR)
    spark_pd = sdf.toPandas()
    if name not in oracles:
        pytest.skip(f"{name} has no oracle (rows-only check)")
    duck_pd = duck.sql(oracles[name]).df()

    assert sorted(spark_pd.columns.str.lower()) == sorted(
        duck_pd.columns.str.lower()
    ), f"column mismatch for {name}"
    assert len(spark_pd) == len(duck_pd), (
        f"row count mismatch for {name}: spark={len(spark_pd)} duck={len(duck_pd)}"
    )
    spark_pd.columns = spark_pd.columns.str.lower()
    duck_pd.columns = duck_pd.columns.str.lower()
    a, b = normalize(spark_pd), normalize(duck_pd)
    if a != b:
        diffs = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
        detail = "\n".join(f"spark={a[i]}\nduck ={b[i]}" for i in diffs)
        raise AssertionError(f"value mismatch for {name} ({len(diffs)}+ rows):\n{detail}")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0
