"""SCD audit-column expressions as composable Spark Column builders.

Each function mirrors one reference column macro
(``macros/materializations/scd/columns/*.sql``) and returns a
``pyspark.sql.Column`` over a key-partitioned window — all windows share the
same ``partitionBy(business key)`` so Catalyst plans ONE shuffle for the whole
audit-column chain (sorts differ, shuffles don't).

Timestamp semantics: the reference's ``timestamp_tz`` maps to Spark
``TimestampType`` with ``spark.sql.session.timeZone=UTC`` (Spark stores
instants; with a fixed UTC session the comparison/ordering semantics are
identical — SURVEY.md §1.2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def key_window(keys: Sequence[str], order_col: str | Column) -> WindowSpec:
    """``partition by <keys> order by <order_col>`` — the canonical window."""
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    return Window.partitionBy(*keys).orderBy(order.asc_nulls_last())


def is_current_expr(keys: Sequence[str], updated_at: str) -> Column:
    """``row_number() over (partition by keys order by updated_at desc) = 1``
    — ``get_is_current_sql.sql:19-21``."""
    w = Window.partitionBy(*keys).orderBy(F.col(updated_at).desc_nulls_last())
    return F.row_number().over(w) == F.lit(1)


def valid_from_expr(
    keys: Sequence[str],
    updated_at: str,
    created_at: str | None = None,
    deleted_at: str | None = None,
) -> Column:
    """First version of a key: ``coalesce(deleted_at, created_at, updated_at)``;
    later versions: ``updated_at`` — ``get_valid_from_sql.sql:24-43`` (the
    born-deleted design, ``docs/superpowers/specs/2026-06-09-*.md``)."""
    u = F.col(updated_at).cast("timestamp")
    if created_at is None and deleted_at is None:
        return u
    first_parts: list[Column] = []
    if deleted_at is not None:
        first_parts.append(F.col(deleted_at).cast("timestamp"))
    if created_at is not None:
        first_parts.append(F.col(created_at).cast("timestamp"))
    first_parts.append(u)
    w = key_window(keys, updated_at)
    is_first = F.lag(F.col(updated_at)).over(w).isNull()
    return F.when(is_first, F.coalesce(*first_parts)).otherwise(u)


def valid_to_expr(
    keys: Sequence[str], updated_at: str, default_valid_to: str
) -> Column:
    """``coalesce(lead(updated_at), default_valid_to)`` —
    ``get_valid_to_sql.sql:28-33``.  Note the reference ignores its
    ``deleted_at_col`` argument here: a deleted version also spans until the
    next record or forever (docstring example, lines 14-18)."""
    w = key_window(keys, updated_at)
    return F.coalesce(
        F.lead(F.col(updated_at).cast("timestamp")).over(w),
        F.lit(default_valid_to).cast("timestamp"),
    )


def change_type_expr(
    keys: Sequence[str], updated_at: str, deleted_at: str | None = None
) -> Column:
    """'D' if deleted; 'I' for the first record or post-delete resurrection;
    else 'U' — ``get_change_type_sql.sql:26-37``."""
    w = key_window(keys, updated_at)
    is_first = F.row_number().over(w) == F.lit(1)
    if deleted_at is None:
        return F.when(is_first, F.lit("I")).otherwise(F.lit("U"))
    return (
        F.when(F.col(deleted_at).isNotNull(), F.lit("D"))
        .when(is_first, F.lit("I"))
        .when(F.lag(F.col(deleted_at)).over(w).isNotNull(), F.lit("I"))
        .otherwise(F.lit("U"))
    )


def conditional_change_event(
    value: str | Column, prev: str | Column, keys: Sequence[str], order_col: str
) -> Column:
    """Emulation of Snowflake's ``CONDITIONAL_CHANGE_EVENT`` —
    ``get_incremental_scd2_sql.sql:164`` (run-id per consecutive same-value
    run; A→B→A yields three runs).

    No Spark builtin exists; composed as
    ``sum( (value is distinct from lag(value)) :: int )`` over a running
    frame.  Stays fully inside whole-stage codegen (no UDF).

    ``prev`` is ``lag(value)`` over ``key_window(keys, order_col)``,
    materialized by the caller as a column: the change flag reads it twice,
    and Catalyst extracts every window-expression occurrence into its own
    window column, so an inline lag would be computed twice.
    """
    v = F.col(value) if isinstance(value, str) else value
    p = F.col(prev) if isinstance(prev, str) else prev
    w = key_window(keys, order_col)
    changed = (p.isNull() | (v != p)).cast("int")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return F.sum(changed).over(running)

