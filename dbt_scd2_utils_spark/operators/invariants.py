"""Data-quality invariant checks — each returns a DataFrame of VIOLATING rows
(empty ⇒ pass), mirroring the reference's generic tests 1:1
(``tests/generic/*.sql``; wiring per model at
``integration_tests/models/scd2_materialization/schema.yml:19-64``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.config import ScdConfig


def one_current_per_key(
    df: DataFrame, keys: Sequence[str], current_col: str = "_is_current"
) -> DataFrame:
    """Exactly one current row per key — test_one_current_per_key.sql:3-9."""
    return (
        df.filter(F.col(current_col) == True)  # noqa: E712
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("current_record_count"))
        .filter(F.col("current_record_count") != 1)
    )


def no_validity_overlaps(
    df: DataFrame,
    keys: Sequence[str],
    valid_from: str = "_valid_from",
    valid_to: str = "_valid_to",
) -> DataFrame:
    """No two windows of one key intersect — test_no_validity_overlaps.sql:10-17
    (self theta-join: same key, different valid_from, intervals overlap)."""
    a, b = df.alias("a"), df.alias("b")
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    cond = cond & (F.col(f"a.{valid_from}") != F.col(f"b.{valid_from}"))
    return (
        a.join(b, cond, "inner")
        .filter(
            (F.col(f"a.{valid_from}") < F.col(f"b.{valid_to}"))
            & (F.col(f"b.{valid_from}") < F.col(f"a.{valid_to}"))
        )
        .select(
            *[F.col(f"a.{k}") for k in keys],
            F.col(f"a.{valid_from}").alias("a_valid_from"),
            F.col(f"a.{valid_to}").alias("a_valid_to"),
            F.col(f"b.{valid_from}").alias("b_valid_from"),
            F.col(f"b.{valid_to}").alias("b_valid_to"),
        )
    )


def continuous_validity_windows(
    df: DataFrame,
    keys: Sequence[str],
    valid_from: str = "_valid_from",
    valid_to: str = "_valid_to",
) -> DataFrame:
    """valid_to = next valid_from (no gaps) —
    test_continuous_validity_windows.sql:8-20."""
    w = Window.partitionBy(*keys).orderBy(valid_from)
    seq = df.select(
        *keys, valid_from, valid_to,
        F.lead(valid_from).over(w).alias("next_valid_from"),
    )
    return seq.filter(
        F.col("next_valid_from").isNotNull()
        & (F.col(valid_to) != F.col("next_valid_from"))
    )


def latest_row_is_current(
    df: DataFrame,
    keys: Sequence[str],
    valid_from: str = "_valid_from",
    current_col: str = "_is_current",
) -> DataFrame:
    """The max-valid_from row per key has _is_current=true (and only it) —
    test_latest_row_is_current.sql:1-20.  When the max valid_from is tied
    within a key, row_number picks an arbitrary one of the tied rows as
    the latest, as the reference's SQL does."""
    w = Window.partitionBy(*keys).orderBy(F.col(valid_from).desc())
    ranked = df.withColumn("_rn", F.row_number().over(w))
    return ranked.filter(
        ((F.col("_rn") == 1) & (F.col(current_col) != True))  # noqa: E712
        | ((F.col("_rn") != 1) & (F.col(current_col) == True))  # noqa: E712
    ).drop("_rn")


def first_record_not_update(
    df: DataFrame,
    keys: Sequence[str],
    valid_from: str = "_valid_from",
    change_type: str = "_change_type",
) -> DataFrame:
    """First record per key is 'I' or 'D', never 'U' —
    test_first_record_not_update.sql:1-30.  When the min valid_from is
    tied within a key, row_number picks an arbitrary one of the tied rows
    as the first, as the reference's SQL does."""
    w = Window.partitionBy(*keys).orderBy(valid_from)
    ranked = df.withColumn("_rn", F.row_number().over(w))
    return ranked.filter(
        (F.col("_rn") == 1) & (F.col(change_type) == "U")
    ).drop("_rn")


def insert_follows_delete(
    df: DataFrame,
    keys: Sequence[str],
    valid_from: str = "_valid_from",
    change_type: str = "_change_type",
) -> DataFrame:
    """After a 'D', the next record (if any) must be 'I' or 'D' —
    test_insert_follows_delete.sql:1-54."""
    w = Window.partitionBy(*keys).orderBy(valid_from)
    seq = df.withColumn("_prev_ct", F.lag(change_type).over(w))
    return seq.filter(
        (F.col("_prev_ct") == "D") & (~F.col(change_type).isin("I", "D"))
    ).drop("_prev_ct")


def no_consecutive_inserts_or_deletes(
    df: DataFrame,
    keys: Sequence[str],
    valid_from: str = "_valid_from",
    change_type: str = "_change_type",
) -> DataFrame:
    """Forbidden bigrams I→I and D→U —
    test_no_consecutive_inserts_or_deletes.sql:27-30."""
    w = Window.partitionBy(*keys).orderBy(valid_from)
    seq = df.withColumn("_prev_ct", F.lag(change_type).over(w))
    return seq.filter(
        ((F.col("_prev_ct") == "I") & (F.col(change_type) == "I"))
        | ((F.col("_prev_ct") == "D") & (F.col(change_type) == "U"))
    ).drop("_prev_ct")


def no_records_after_deletion(
    df: DataFrame,
    keys: Sequence[str],
    deleted_at: str,
    valid_from: str = "_valid_from",
    change_type: str = "_change_type",
) -> DataFrame:
    """A deletion record's window starts at its deleted_at —
    test_no_records_after_deletion.sql:26-34."""
    return df.filter(
        (F.col(change_type) == "D")
        & (F.col(valid_from) != F.col(deleted_at))
    )


def valid_window_well_formed(
    df: DataFrame,
    valid_from: str = "_valid_from",
    valid_to: str = "_valid_to",
) -> DataFrame:
    """Non-null window with from < to — test_valid_window_well_formed.sql:10-17."""
    return df.filter(
        F.col(valid_from).isNull()
        | F.col(valid_to).isNull()
        | (F.col(valid_from) >= F.col(valid_to))
    )


def all_records_current(
    df: DataFrame, current_col: str = "_is_current"
) -> DataFrame:
    """SCD0/1 invariant: every row is current — test_all_records_current.sql:8-15."""
    return df.filter(F.col(current_col) != True)  # noqa: E712


# Checks whose standalone frame depends on the order of a key's rows
# (row_number, lead, lag over valid_from).  When valid_from ties within a
# key, or is null, that order is not fixed, so the fused pass below cannot
# vouch for them.  no_validity_overlaps is not among them: a violating
# pair has distinct, non-null valid_from values, so the earlier row of the
# pair precedes the later one in every order.
_ORDER_DEPENDENT = frozenset({
    "continuous_validity_windows",
    "latest_row_is_current",
    "first_record_not_update",
    "insert_follows_delete",
    "no_consecutive_inserts_or_deletes",
})


def _possible_violations(df: DataFrame, cfg: ScdConfig) -> set[str]:
    """Names of the suite's checks that may have a violating row in
    ``df``, decided by one query: one window spec over the key (one hash
    exchange and one sort), then one global aggregate.  A name may be a
    false positive, never a false negative.  A null flag counts as false,
    which is exact: every standalone check filters on the same predicate,
    and a filter drops null."""
    vf, vt = F.col(cfg.valid_from_column), F.col(cfg.valid_to_column)
    ct = F.col(cfg.change_type_column)
    current = F.col(cfg.is_current_column) == True  # noqa: E712
    w = Window.partitionBy(*cfg.unique_key).orderBy(vf.asc_nulls_first())
    # Every per-key quantity over the one spec, each computed once (Catalyst
    # gives every inline occurrence of a window expression its own column).
    seq = df.select(
        vf, vt, ct, current.alias("_current"),
        *([F.col(cfg.deleted_at_column).alias("_deleted_at")]
          if cfg.deleted_at_column else []),
        F.row_number().over(w).alias("_rn"),
        F.lead(vf).over(w).alias("_next_vf"),
        F.lag(vf).over(w).alias("_prev_vf"),
        F.lag(ct).over(w).alias("_prev_ct"),
        # rows with a null valid_from sort first but never join
        F.max(F.when(vf.isNotNull(), vt)).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ).alias("_max_prev_vt"),
        F.count(F.when(current, 1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("_n_current"),
    )
    cur, next_vf, prev_ct = F.col("_current"), F.col("_next_vf"), F.col("_prev_ct")
    flags = {
        "one_current_per_key": F.col("_n_current") > 1,
        # superset of the self-join: an earlier window of the key ends
        # after this one starts (the join also drops null key parts)
        "no_validity_overlaps": F.col("_max_prev_vt") > vf,
        "continuous_validity_windows": next_vf.isNotNull() & (vt != next_vf),
        # without ties or nulls, the last row is the max-valid_from row
        "latest_row_is_current": F.when(next_vf.isNull(), ~cur).otherwise(cur),
        "first_record_not_update": (F.col("_rn") == 1) & (ct == "U"),
        "insert_follows_delete": (prev_ct == "D") & ~ct.isin("I", "D"),
        "no_consecutive_inserts_or_deletes": ((prev_ct == "I") & (ct == "I"))
        | ((prev_ct == "D") & (ct == "U")),
        "valid_window_well_formed": vf.isNull() | vt.isNull() | (vf >= vt),
    }
    if cfg.deleted_at_column:
        flags["no_records_after_deletion"] = (ct == "D") & (vf != F.col("_deleted_at"))
    unordered = vf.isNull() | (F.col("_prev_vf") == vf)
    row = seq.agg(
        *[F.max(c).alias(n) for n, c in flags.items()],
        F.max(unordered).alias("_unordered"),
    ).first()
    return {
        n for n in flags
        if row[n] or (row["_unordered"] and n in _ORDER_DEPENDENT)
    }


def scd2_invariant_suite(
    df: DataFrame, cfg: ScdConfig
) -> dict[str, DataFrame]:
    """All SCD2 invariants for a built table, keyed by test name.

    Eager: building the suite runs ONE Spark query over ``df``, a single
    window pass over the key that flags every check that could possibly
    be violated (the single-pass idea of Deequ, Schelter et al., VLDB
    2018).  A flagged check returns its standalone function's frame
    unchanged; any other check returns that frame's ``limit(0)``, which
    Catalyst plans as an empty local relation, so consuming it scans
    nothing.  Soundness rule: a flag may be a false positive (it costs
    the check's own scan), never a false negative, so every returned
    frame equals the standalone function's output.  Tie rule: a
    ``valid_from`` tied within a key, or null, gives row_number/lead/lag
    no fixed order, so it flags every order-dependent check."""
    keys = list(cfg.unique_key)
    vf, vt = cfg.valid_from_column, cfg.valid_to_column
    ct, cur = cfg.change_type_column, cfg.is_current_column
    suite = {
        "one_current_per_key": one_current_per_key(df, keys, cur),
        "no_validity_overlaps": no_validity_overlaps(df, keys, vf, vt),
        "continuous_validity_windows": continuous_validity_windows(df, keys, vf, vt),
        "latest_row_is_current": latest_row_is_current(df, keys, vf, cur),
        "first_record_not_update": first_record_not_update(df, keys, vf, ct),
        "insert_follows_delete": insert_follows_delete(df, keys, vf, ct),
        "no_consecutive_inserts_or_deletes": no_consecutive_inserts_or_deletes(
            df, keys, vf, ct
        ),
        "valid_window_well_formed": valid_window_well_formed(df, vf, vt),
    }
    if cfg.deleted_at_column:
        suite["no_records_after_deletion"] = no_records_after_deletion(
            df, keys, cfg.deleted_at_column, vf, ct
        )
    possible = _possible_violations(df, cfg)
    return {
        name: frame if name in possible else frame.limit(0)
        for name, frame in suite.items()
    }


def store_failures(
    suite: dict[str, DataFrame], base_path: str
) -> dict[str, int]:
    """Persist each test's violating rows (S9 ``store_failures: true`` —
    integration_tests/dbt_project.yml:38-40); returns violation counts.
    Only failing tests write a ``<base_path>/<test_name>`` directory."""
    counts: dict[str, int] = {}
    for name, violations in suite.items():
        n = violations.count()
        counts[name] = n
        if n:
            violations.write.mode("overwrite").parquet(f"{base_path}/{name}")
    return counts


def assert_invariants(df: DataFrame, cfg: ScdConfig) -> None:
    """Raise AssertionError listing every violated invariant (test helper)."""
    failures = {}
    for name, violations in scd2_invariant_suite(df, cfg).items():
        rows = violations.limit(5).collect()
        if rows:
            failures[name] = rows
    if failures:
        msg = "\n".join(f"{k}: {v}" for k, v in failures.items())
        raise AssertionError(f"SCD2 invariant violations:\n{msg}")
