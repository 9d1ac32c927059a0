"""Partitioning helpers shared by operators."""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def parallelize_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input has far fewer partitions
    than the session has slots — the single-small-parquet-file local case,
    where a CPU-heavy projection (interpreted higher-order functions,
    shingling, signatures) would otherwise run on one core while the rest
    of the machine idles.

    At scale the input is already well-partitioned and this is a no-op — no
    unconditional shuffle of a 100-TB corpus.  The partition probe
    (``df.rdd`` forces a driver-side plan-to-RDD conversion) only runs on
    local masters — the exact case it exists for — so a cluster deployment
    never pays the conversion at all."""
    try:
        if not df.sparkSession.conf.get("spark.master", "").startswith("local"):
            return df
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() * 2 < target:
            return df.repartition(target)
    except Exception:
        pass
    return df


def null_safe_key_eq(left: str, right: str, keys: Sequence[str]) -> Column:
    """Null-safe equi-join condition over aliased key columns (unique-key
    columns may legitimately hold NULLs)."""
    return reduce(
        Column.__and__,
        [F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}")) for k in keys],
    )


def key_join(
    df: DataFrame, keys: Sequence[str], key_rows: DataFrame, how: str
) -> DataFrame:
    """``df``'s rows whose key does (``how="left_semi"``) or does not
    (``"left_anti"``) occur in ``key_rows``: a broadcast join, null-safe on
    ``keys``, so ``df`` streams and is never shuffled.  Duplicate keys in
    ``key_rows`` change neither result, but every row of ``key_rows`` is
    collected to the driver before the build side drops them: pass a
    distinct key set when it may hold many rows per key."""
    h = F.broadcast(key_rows.select(*keys)).alias("h")
    return df.alias("l").join(h, null_safe_key_eq("l", "h", keys), how)


def split_by_keys(
    df: DataFrame, keys: Sequence[str], key_rows: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(``df``'s rows whose key occurs in ``key_rows``, the rest).  The
    broadcast holds ``key_rows``' distinct keys: a change batch carries
    many versions per key, and its small side pays the one Exchange."""
    key_rows = key_rows.select(*keys).distinct()
    return (
        key_join(df, keys, key_rows, "left_semi"),
        key_join(df, keys, key_rows, "left_anti"),
    )
