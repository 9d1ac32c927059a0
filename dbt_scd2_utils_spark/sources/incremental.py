"""Incremental source scans: watermark filter + run-start cutoff.

Re-expression of the reference's ``source()`` override
(``macros/builtin_overrides/source.sql:33-57``) and ``is_incremental``
semantics (``macros/builtin_overrides/is_incremental.sql:18-28``).

The reference's scalar subquery
``(select coalesce(max(_loaded_at), '1900-01-01') from target) < loaded_at``
becomes a driver-side value + a pushed-down filter.  Snowflake answers the
max() from micro-partition metadata; here the footers' min/max statistics
answer it when the target is a full read of a bucketed ``ScdTable``
(``read()``, ``read_at_gen``, ``read_at_timestamp``) whose manifest records
every bucket's maxima: no Spark job runs.  Any other target — a transformed
frame, a legacy or stale manifest, a bucket written with INT96 timestamps
(no statistics) or under Spark's LEGACY datetime rebase — gets an eager
aggregate (two Spark jobs under AQE: the partial aggregate's shuffle stage,
then the final one) that reads every row of the ``loaded_at`` column:
Spark's DSv1 parquet source has no aggregate pushdown.  The comparison is then a plain literal predicate Catalyst pushes
into the source's parquet scan.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

DEFAULT_VALID_FROM = "1900-01-01 00:00:00"


def high_water_mark(
    target: DataFrame | None,
    loaded_at_col: str,
    default_valid_from: str = DEFAULT_VALID_FROM,
):
    """``coalesce(max(loaded_at), default_valid_from)`` over the target —
    source.sql:44.  ``target=None`` (no table yet → initial load) returns the
    floor directly.

    Zero jobs when ``target`` is a full read of a bucketed ``ScdTable``
    carrying ``_scd_column_max`` with ``loaded_at_col`` in it: a new-style
    manifest, not stale, every bucket's footer maxima known (timestamps
    written as INT64, ``get_spark``'s default) and the column a top-level
    timestamp of the frame.  The recorded micros are converted with the
    column's own type, so the value equals the aggregate's, and a column
    null everywhere gives the floor.  Otherwise the aggregate runs."""
    floor = datetime.fromisoformat(default_valid_from)
    if target is None:
        return floor
    maxima = getattr(target, "_scd_column_max", None)
    if maxima is not None and loaded_at_col in maxima:
        field = next(
            (f for f in target.schema.fields if f.name == loaded_at_col), None
        )
        if field is not None and isinstance(
            field.dataType, (TimestampType, TimestampNTZType)
        ):
            us = maxima[loaded_at_col]
            return floor if us is None else field.dataType.fromInternal(us)
    row = target.agg(F.max(F.col(loaded_at_col)).alias("hwm")).first()
    return row["hwm"] if row and row["hwm"] is not None else floor


def incremental_source(
    source: DataFrame,
    target: DataFrame | None,
    loaded_at_col: str | None = None,
    target_loaded_at_col: str = "_loaded_at",
    is_incremental: bool | None = None,
    exclude_data_after_run_start: bool = False,
    run_started_at: datetime | None = None,
    default_valid_from: str = DEFAULT_VALID_FROM,
) -> DataFrame:
    """The reference's enhanced ``source()``: on incremental runs keep only
    rows with ``loaded_at > max(target.loaded_at)``; optionally also drop
    rows that arrived after the run started (S3 + S4 in SURVEY.md §2.1)."""
    if is_incremental is None:
        is_incremental = target is not None
    out = source
    if is_incremental and loaded_at_col is not None:
        hwm = high_water_mark(target, target_loaded_at_col, default_valid_from)
        out = out.filter(F.col(loaded_at_col) > F.lit(hwm))
    if exclude_data_after_run_start and loaded_at_col is not None:
        if run_started_at is None:
            raise ValueError(
                "exclude_data_after_run_start requires run_started_at"
            )
        # source.sql:48 formats to second precision — preserved.
        cutoff = run_started_at.replace(microsecond=0)
        out = out.filter(F.col(loaded_at_col) <= F.lit(cutoff))
    return out


def is_incremental_run(
    spark: SparkSession,
    name: str,
    full_refresh: bool = False,
    materialization: str = "scd",
    existing_materialization: str | None = None,
) -> bool:
    """The reference's full ``is_incremental`` conjunction
    (is_incremental.sql:18-28): relation exists AND is a table (not a view)
    AND the run is not a full refresh AND the existing relation was built by
    the same materialization.

    ``existing_materialization`` is the caller's record of how the relation
    was last built (dbt reads it from the manifest; ``ScdTable`` persists it
    in table metadata — see ``plans.build.ScdTable._write_meta``).  ``None``
    means unknown, which conservatively counts as a match — the reference
    likewise falls back to incremental when state is unavailable."""
    if full_refresh:
        return False
    if not spark.catalog.tableExists(name):
        return False
    table = spark.catalog.getTable(name)
    # Relation must be a *table*: catalog views report VIEW, temp views
    # TEMPORARY — neither supports an incremental merge.
    if table.tableType in ("VIEW", "TEMPORARY"):
        return False
    if (
        existing_materialization is not None
        and existing_materialization != materialization
    ):
        return False
    return True
