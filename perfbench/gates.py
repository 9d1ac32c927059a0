"""Untimed correctness gates.

Spark results are compared with independent re-derivations as multisets
of canonical rows: timestamps become UTC epoch microseconds on both
sides, so neither engine's timezone or timestamp type leaks into the
comparison.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType


def canonical_spark(df: DataFrame, cols: list[str]) -> Counter:
    exprs = [
        F.unix_micros(F.col(c)).alias(c)
        if isinstance(df.schema[c].dataType, TimestampType)
        else F.col(c)
        for c in cols
    ]
    return Counter(tuple(r) for r in df.select(*exprs).collect())


def canonical_duck(con, sql: str, cols: list[str]) -> Counter:
    rel = con.sql(sql)
    types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    exprs = ", ".join(
        f"epoch_us({c})" if types[c].startswith("TIMESTAMP") else c for c in cols
    )
    return Counter(con.sql(f"select {exprs} from ({sql})").fetchall())


def diff_summary(got: Counter, want: Counter) -> str:
    extra, missing = got - want, want - got
    if not extra and not missing:
        return ""
    return (
        f"{sum(extra.values())} unexpected / {sum(missing.values())} missing rows "
        f"of {sum(want.values())}; e.g. unexpected {list(extra)[:2]} "
        f"missing {list(missing)[:2]}"
    )


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """Row count and an order-insensitive content hash (sum of per-row
    xxhash64, summed as decimal so it cannot overflow)."""
    cols = sorted(df.columns)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def duck(work: str):
    """An in-memory DuckDB that keeps its files under ``work`` and never
    fetches extensions (parquet and ICU are built in)."""
    import duckdb

    con = duckdb.connect(config={
        "extension_directory": os.path.join(work, "duckdb_extensions"),
        "temp_directory": os.path.join(work, "duckdb_tmp"),
        "autoinstall_known_extensions": False,
        "autoload_known_extensions": False,
    })
    con.sql(f"SET home_directory = '{work}'")
    con.sql("SET TimeZone = 'UTC'")
    con.sql("SET threads = 1")
    return con
