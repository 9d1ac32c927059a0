"""SCD Type 2 operators: initial load and incremental merge.

Spark-first re-expression of the reference's generated-SQL pipeline:

* initial load  ≡ ``macros/materializations/scd/types/type_2/get_initial_load_scd2_sql.sql:52-96``
* incremental   ≡ ``macros/materializations/scd/types/type_2/get_incremental_scd2_sql.sql:75-268``

Each reference CTE is a named DataFrame.  The incremental merge is one
per-key window chain (``_window_merge``): the target rows it touches and
the batch are unioned and shuffled ONCE on the key, and every per-key CTE
and the MERGE's update rules run as windows inside that partitioning.  On
a bucketed ``ScdTable``'s affected-bucket slice (the sink attaches
``_scd_bucketing``) the shuffle is on ``_scd_bucket`` and the result feeds
the sink's bucket-partitioned write with no further exchange; on any other
target a broadcast semi/anti join on the batch's keys first sets the
untouched rows aside.  The MERGE source itself (``build_scd2_merge_source``)
plus a join-back (``_merge_via_source``) serves only the salted strategy's
hot subset, the Delta sink, and the tests as a reference.

Documented deviation (SURVEY.md §7.0): the reference dedups duplicate
``(business key, updated_at)`` rows with ``row_number() over (... order by 1)``
— an *arbitrary* tiebreak (``get_incremental_scd2_sql.sql:151-156``) despite
computing a ``_priority`` column it never uses.  We implement the documented
intent ("prioritise existing record", line 149-150) and make the pick fully
deterministic: order by ``_priority`` (previous=0 wins over new=17), then the
loaded-at watermark when present, then the business column values.  This is
cross-engine stable (orders by values, never by engine-specific hashes).

Key-skew note (window chain): every audit window partitions by the business
key, so a pathological key with millions of versions lands WHOLE on one
task — AQE skew handling covers joins, not windows, so that stage runs as
a single-straggler tail bounded by the hot key's history length (measured
local[32]: 100k-version hot key among 10k normal keys → initial ~5.7 s,
incremental ~7.1 s; provoked in
``tests/test_scd2_incremental.py::test_hot_key_window_skew_completes``).
This is inherent to SCD2 semantics — lead/lag/row_number over a key's full
history cannot be computed on less than the full history.  At 100 TB the
mitigations are upstream of this operator: (a) such keys are almost always
data bugs (a NULL-ish sentinel key) — surface them with
``batch.groupBy(keys).count().orderBy(F.desc("count"))`` and quarantine;
(b) if a hot key is legitimate, pre-collapse its intra-batch churn (e.g.
keep last version per (key, hour)) BEFORE the merge, shrinking the window
input; (c) a salted window (contiguous time-range salts + boundary-ghost
rows) IS shipped, opt-in, as ``operators/scd2_salted.py``, with a
randomized exact-equivalence harness
(``tests/test_property_salted_scd2.py``).  Measured
(``scripts/hot_key_window_tail.py``, BASELINE round-10c): the plain
incremental straggler is ~2 s at 100k versions, ~16-22 s at 1M, ~142-176 s
at 10M on local[32] — and the salted path does NOT beat it at any locally
measurable size (1M: 34 vs 21 s; 10M: the salted run's materialized stage
copies exceed the 8 GB single-JVM heap while the plain single-task sort
completes).  Its domain is a REAL cluster at ≥10M-version keys, where the
one task holding the whole history is itself the thing that spills or
OOMs — salting spreads that history S ways across executors, which
single-JVM local mode structurally cannot demonstrate.  The DEFAULT
therefore remains unsalted everywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.audit import (
    change_type_expr,
    conditional_change_event,
    is_current_expr,
    key_window,
    valid_from_expr,
    valid_to_expr,
)
from ..functions.caching import barrier
from ..functions.hashing import surrogate_key
from ..functions.partitioning import split_by_keys
from ..plans.config import ScdConfig

# Internal helper column names (dropped before returning results).
KEY_COL = "_scd2_key"
BKEY_COL = "_scd2_business_key"
HASH_COL = "_scd2_hash"
PREV_HASH_COL = "_prev_hash"
RUN_ID_COL = "_run_id"
SOURCE_COL = "_source"
PRIORITY_COL = "_priority"
OP_COL = "_scd2_op"
IN_MERGE_COL = "_in_merge"
# The bucketed sink's partition column; a bucket-local merge result carries
# it (plans/build.py writes such a frame as is).
BUCKET_COL = "_scd_bucket"
# The largest merge source _merge_via_source broadcasts.
BROADCAST_MAX_ROWS = 5_000_000


def _orderable(df: DataFrame, cols: Sequence[str]) -> list[str]:
    """Keep only columns with orderable types (no maps)."""
    bad = {"map"}
    out = []
    for c in cols:
        dt = df.schema[c].dataType.typeName()
        if dt not in bad:
            out.append(c)
    return out


def _dedup_order(
    df: DataFrame, cfg: ScdConfig, business_cols: Sequence[str], with_priority: bool
) -> list[Column]:
    """Deterministic total order for the per-``_scd2_key`` dedup (W6).

    Replaces the reference's arbitrary ``order by 1``: previous-record
    priority first (incremental only), then loaded-at, then business values.
    """
    order: list[Column] = []
    if with_priority:
        order.append(F.col(PRIORITY_COL).asc())
    cols = [c for c in business_cols if c.lower() != cfg.updated_at_column.lower()]
    if cfg.loaded_at_column.lower() in {c.lower() for c in cols}:
        order.append(F.col(cfg.loaded_at_column).asc_nulls_last())
        cols = [c for c in cols if c.lower() != cfg.loaded_at_column.lower()]
    order += [
        F.col(c).asc_nulls_last() for c in _orderable(df, cols)
    ]
    return order or [F.lit(1).asc()]


def _is_dup_expr(
    df: DataFrame, cfg: ScdConfig, business_cols: Sequence[str],
    with_priority: bool, keys: Sequence[str],
) -> Column:
    """True on every row of an (``keys``, updated_at)-group but the first
    under the deterministic tiebreak order (W6)."""
    u = F.col(cfg.updated_at_column)
    w = Window.partitionBy(*keys).orderBy(
        u.asc_nulls_last(),
        *_dedup_order(df, cfg, business_cols, with_priority=with_priority),
    )
    # lag(u) is NULL both for "no previous row" and "previous row with NULL
    # updated_at"; the marker disambiguates so a key whose updated_at values
    # are all NULL still keeps its first row (the reference's
    # row_number()=1 per _scd2_key keeps one row for such keys too).
    return F.lag(F.lit(1)).over(w).isNotNull() & F.lag(u).over(w).eqNullSafe(u)


def _dedup_first_per_version(
    df: DataFrame, cfg: ScdConfig, business_cols: Sequence[str], with_priority: bool
) -> DataFrame:
    """One row per (business key, updated_at): the first row of each
    updated_at-group under the deterministic tiebreak order, computed inside
    the key-partitioned window (shares the audit chain's single shuffle).

    Equivalent to ``row_number() over (partition by _scd2_key order by
    <priority, values>) = 1`` (W6) because ``_scd2_key`` ≡ (key, updated_at).
    """
    return (
        df.withColumn(
            "_is_dup",
            _is_dup_expr(df, cfg, business_cols, with_priority, cfg.unique_key),
        )
        .filter(~F.col("_is_dup"))
        .drop("_is_dup")
    )


def _survivor_order(cfg: ScdConfig, business_cols: Sequence[str]) -> list[Column]:
    """Survivor order per (key, content-run) when collapsing: earliest
    loaded, else earliest updated_at — get_incremental_scd2_sql.sql:178-197."""
    order: list[Column] = []
    if cfg.loaded_at_column.lower() in {c.lower() for c in business_cols}:
        order.append(F.col(cfg.loaded_at_column).asc_nulls_last())
    order.append(F.col(cfg.updated_at_column).asc_nulls_last())
    return order


def _with_hashes(
    df: DataFrame, cfg: ScdConfig, check_cols: Sequence[str], business_key: bool
) -> DataFrame:
    """Attach ``_scd2_key`` / ``_scd2_hash`` (and optionally
    ``_scd2_business_key``) — get_initial_load_scd2_sql.sql:55-56,
    get_incremental_scd2_sql.sql:84-87."""
    out = df.withColumn(KEY_COL, surrogate_key(cfg.scd2_unique_key)).withColumn(
        HASH_COL, surrogate_key(list(check_cols))
    )
    if business_key:
        out = out.withColumn(BKEY_COL, surrogate_key(list(cfg.unique_key)))
    return out


def _audit_exprs(cfg: ScdConfig, keys: Sequence[str]) -> list[Column]:
    """The four audit columns derived over ``keys``-partitioned windows, in
    ``cfg.audit_columns`` order (unaliased)."""
    u = cfg.updated_at_column
    return [
        is_current_expr(keys, u),
        valid_from_expr(keys, u, cfg.created_at_column, cfg.deleted_at_column),
        valid_to_expr(keys, u, cfg.default_valid_to),
        change_type_expr(keys, u, cfg.deleted_at_column),
    ]


def _audit_select(
    df: DataFrame, cfg: ScdConfig, business_cols: Sequence[str], extra: Sequence[Column] = (),
) -> DataFrame:
    """Project business columns + freshly derived audit columns
    (shared by initial load and the merge-source recompute)."""
    return df.select(
        *[F.col(c) for c in business_cols],
        *[
            e.alias(c)
            for e, c in zip(_audit_exprs(cfg, cfg.unique_key), cfg.audit_columns)
        ],
        *extra,
    )


class KeyWindows:
    """Window strategy for the per-key history chain — the seam the salted
    hot-key path (``operators/scd2_salted.py``) plugs into.  This default
    implementation is the plain key-partitioned chain (one task per key);
    every method's semantics are per key and order-local, so a strategy may
    compute them over any partitioning that preserves them."""

    def dedup_first_per_version(
        self, df: DataFrame, cfg: ScdConfig, business_cols: Sequence[str],
        with_priority: bool,
    ) -> DataFrame:
        return _dedup_first_per_version(df, cfg, business_cols, with_priority)

    def compare_versions(
        self, df: DataFrame, cfg: ScdConfig, with_runs: bool,
    ) -> DataFrame:
        """Attach ``_prev_hash`` (lag of the content hash) and, for the
        merge path, ``_run_id`` (conditional_change_event run ids)."""
        w = key_window(cfg.unique_key, cfg.updated_at_column)
        out = df.withColumn(PREV_HASH_COL, F.lag(HASH_COL).over(w))
        if with_runs:
            out = out.withColumn(
                RUN_ID_COL,
                conditional_change_event(
                    HASH_COL, PREV_HASH_COL, cfg.unique_key,
                    cfg.updated_at_column,
                ),
            )
        return out

    def collapse_survivors(
        self, df: DataFrame, cfg: ScdConfig, order: Sequence[Column],
    ) -> DataFrame:
        """Keep the first row of each (key, run) under ``order`` —
        get_incremental_scd2_sql.sql:178-197."""
        run_rn = F.row_number().over(
            Window.partitionBy(*cfg.unique_key, RUN_ID_COL).orderBy(*order)
        )
        return (
            df.withColumn("_rrn", run_rn).filter(F.col("_rrn") == 1).drop("_rrn")
        )

    def audit_select(
        self, df: DataFrame, cfg: ScdConfig, business_cols: Sequence[str],
        extra: Sequence[Column] = (),
    ) -> DataFrame:
        return _audit_select(df, cfg, business_cols, extra)


DEFAULT_WINDOWS = KeyWindows()


def align_evolved_schemas(
    target: DataFrame, batch: DataFrame, cfg: ScdConfig
) -> tuple[DataFrame, DataFrame]:
    """Schema evolution for the incremental merge — dbt snapshots' column
    handling (and Delta ``mergeSchema``'s), re-expressed for this engine:

    * **add-column**: a batch business column absent from the target is
      NULL-backfilled onto the target (cast to the batch's type), so
      pre-evolution versions carry NULL and the change-detection hashes
      treat the old state as "column was NULL" — exactly the full-refresh
      derivation over a NULL-backfilled historical feed;
    * **drop-column**: a target business column absent from the batch
      rides along as NULL in the batch (dbt's check strategy: a removed
      source column makes NEW versions record NULL while history keeps
      its values — the column is never silently destroyed).

    Driver-side column-set comparison only: when the schemas already
    agree (every merge outside an evolution event) both inputs return
    UNCHANGED — no projection is added to the plan.  Runs ahead of ALL
    THREE incremental merge types (scd2_incremental, scd1_incremental,
    scd0_incremental), always AFTER the raw-batch validation so a batch
    missing a config-critical column still fails loudly."""
    batch_business = cfg.business_columns(batch.columns)
    target_lower = {c.lower() for c in target.columns}
    batch_lower = {c.lower() for c in batch.columns}
    add = [
        f for f in batch.schema.fields
        if f.name in batch_business and f.name.lower() not in target_lower
    ]
    keep = [
        f for f in target.schema.fields
        if f.name in cfg.business_columns(target.columns)
        and f.name.lower() not in batch_lower
    ]
    if add:
        target = target.withColumns(
            {f.name: F.lit(None).cast(f.dataType) for f in add}
        )
    if keep:
        batch = batch.withColumns(
            {f.name: F.lit(None).cast(f.dataType) for f in keep}
        )
    return target, batch


def scd2_initial_load(
    df: DataFrame, cfg: ScdConfig, windows: KeyWindows = DEFAULT_WINDOWS
) -> DataFrame:
    """Bootstrap an SCD2 table from a (possibly duplicated, multi-version)
    change batch — ``get_initial_load_scd2_sql.sql:52-96``.

    Pipeline: hash → dedup one row per (key, updated_at) → drop rows whose
    content hash equals the previous version's → derive audit columns.
    All windows share ``partitionBy(unique_key)`` → a single shuffle.
    """
    cfg.validate().validate_against_schema(df.schema)
    business_cols = cfg.business_columns(df.columns)
    check_cols = cfg.check_columns(df.columns)

    source_data = _with_hashes(
        df.select(*business_cols), cfg, check_cols, business_key=False
    )

    # pick_a_key_any_key (deterministic deviation documented above).
    # Partitioned by the BUSINESS key (not _scd2_key) so this dedup shares
    # one shuffle with the whole downstream window chain: within the key
    # partition, rows sort by (updated_at, tiebreak) and the first row of
    # each updated_at-group survives — identical survivor to a per-_scd2_key
    # row_number, one Exchange less.
    deduped = windows.dedup_first_per_version(
        source_data, cfg, business_cols, with_priority=False
    )

    # compare_versions + changes_only
    with_prev = windows.compare_versions(deduped, cfg, with_runs=False)
    changes_only = with_prev.filter(
        F.col(PREV_HASH_COL).isNull() | (F.col(HASH_COL) != F.col(PREV_HASH_COL))
    )

    return windows.audit_select(changes_only, cfg, business_cols)


def previous_records(
    target: DataFrame, new_records: DataFrame, cfg: ScdConfig,
    check_cols: Sequence[str],
) -> DataFrame:
    """Affected slice of the target: versions whose null-safe business-key
    hash appears in the batch — the EXISTS semi-join of
    ``get_incremental_scd2_sql.sql:101-117``.  This is the central
    scalability lever: incremental work ∝ changed keys, not table size.

    The distinct batch key set is broadcast, so the 100-TB side streams
    through a broadcast semi-join with no shuffle of the target.
    """
    u = cfg.updated_at_column
    p = target.withColumn(BKEY_COL, surrogate_key(list(cfg.unique_key)))
    if cfg.update_all_previous_records:
        keys = new_records.select(BKEY_COL).distinct()
        matched = p.join(F.broadcast(keys), BKEY_COL, "left_semi")
    else:
        # J2 pruning: only versions a new event could affect
        # (n.updated_at <= p.valid_to) — scd_plan.sql:156-170 semantics.
        n = new_records.select(
            F.col(BKEY_COL).alias("_n_bkey"), F.col(u).alias("_n_u")
        ).distinct()
        matched = (
            p.join(
                F.broadcast(n),
                (F.col(BKEY_COL) == F.col("_n_bkey"))
                & (F.col("_n_u") <= F.col(cfg.valid_to_column)),
                "left_semi",
            )
        )
    business_cols = cfg.business_columns(target.columns)
    return matched.select(
        *[F.col(c) for c in business_cols],
        F.lit("previous").alias(SOURCE_COL),
        F.lit(0).alias(PRIORITY_COL),
        surrogate_key(cfg.scd2_unique_key).alias(KEY_COL),
        surrogate_key(list(check_cols)).alias(HASH_COL),
    )


def build_scd2_merge_source(
    target: DataFrame, batch: DataFrame, cfg: ScdConfig,
    windows: KeyWindows = DEFAULT_WINDOWS,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """The MERGE source: canonical timeline (upserts) + redundant versions
    (deletes) — the CTE chain of ``get_incremental_scd2_sql.sql:79-236``.

    Returns ``(source_df, previous_df, business_cols)``; ``source_df`` has the
    business+audit columns plus ``_scd2_op`` ('upsert'/'delete') and
    ``_scd2_key``.
    """
    cfg.validate().validate_against_schema(batch.schema)
    business_cols = cfg.business_columns(batch.columns)
    check_cols = cfg.check_columns(batch.columns)

    new_records = _with_hashes(
        batch.select(*business_cols), cfg, check_cols, business_key=True
    ).withColumn(SOURCE_COL, F.lit("new")).withColumn(
        PRIORITY_COL, F.lit(17)
    )

    # S5 single-evaluation: prev is the ONLY subtree that scans the (huge)
    # target, and it is referenced three times (union, redundant-version
    # anti-join, inserts anti-join).  Persisting its (small: affected
    # versions only) output keeps the target scan count at one for the whole
    # merge-source derivation — the reference gets the same effect from its
    # materialized temp table (scd_plan.sql:81-83).
    prev = barrier(previous_records(target, new_records, cfg, check_cols))

    select_cols = (
        business_cols + [SOURCE_COL, PRIORITY_COL, KEY_COL, HASH_COL]
    )
    all_records = new_records.select(*select_cols).unionByName(
        prev.select(*select_cols)
    )

    # pick_a_key_any_key — previous wins (priority 0 < 17), then values;
    # key-partitioned so it shares the window chain's shuffle.
    deduped = windows.dedup_first_per_version(
        all_records, cfg, business_cols, with_priority=True
    )

    # compare_versions: lag hash + conditional_change_event run ids.
    compare = windows.compare_versions(deduped, cfg, with_runs=True)

    # changes_only: canonical timeline.
    if cfg.effective_collapse:
        changes_only = windows.collapse_survivors(
            compare, cfg, _survivor_order(cfg, business_cols)
        )
    else:
        changes_only = compare.filter(
            F.col(PREV_HASH_COL).isNull()
            | (F.col(HASH_COL) != F.col(PREV_HASH_COL))
            | (F.col(SOURCE_COL) == "previous")  # never drop a persisted version
        )

    # scd2_versions: recompute audit columns over the canonical timeline.
    upserts = windows.audit_select(
        changes_only, cfg, business_cols,
        extra=[F.lit("upsert").alias(OP_COL), F.col(KEY_COL)],
    )

    if cfg.effective_collapse:
        # redundant_versions: persisted versions collapsed out of the
        # timeline → flagged for deletion (NOT IN ≡ anti-join; the hash key
        # is never null) — get_incremental_scd2_sql.sql:218-229.
        canonical_keys = changes_only.select(KEY_COL)
        redundant = prev.join(canonical_keys, KEY_COL, "left_anti").select(
            *[F.col(c) for c in business_cols],
            F.lit(None).cast("boolean").alias(cfg.is_current_column),
            F.lit(None).cast("timestamp").alias(cfg.valid_from_column),
            F.lit(None).cast("timestamp").alias(cfg.valid_to_column),
            F.lit(None).cast("string").alias(cfg.change_type_column),
            F.lit("delete").alias(OP_COL),
            F.col(KEY_COL),
        )
        source = upserts.unionByName(redundant)
    else:
        source = upserts

    return source, prev, business_cols


def _predicate(cfg: ScdConfig) -> Column:
    """``incremental_predicates`` ANDed, NULL as false."""
    return F.coalesce(
        F.expr(" AND ".join(f"({p})" for p in cfg.incremental_predicates)),
        F.lit(False),
    )


def _window_merge(
    target: DataFrame, batch: DataFrame, cfg: ScdConfig,
    bucketing: tuple[Column, int] | None = None,
) -> DataFrame:
    """The whole merge as one key-partitioned window chain.

    ``bucketing`` = (bucket expression, affected-bucket count) marks the
    affected buckets of a bucketed table, which hold every version of
    every batch key: all of it is shuffled ONCE on ``_scd_bucket``, and
    the result carries ``_scd_bucket`` for the sink's partitioned write.
    Any other target is cut by ``split_by_keys`` on the batch's keys: the
    touched rows are shuffled once on the key, the rest union back as is.

    The target rows (priority 0, audit columns kept as ``_old<name>``) and
    the batch (priority 17, NULL audit columns) are unioned and tagged
    with the content hash.  Every later step is a window partitioned by
    ``[*unique_key, _in_merge]`` (after ``_scd_bucket`` when bucketed),
    which the one shuffle satisfies: no further Exchange, no join, no
    persisted intermediate.

    ``_in_merge`` marks the rows the MERGE source would hold: a key's rows
    when it has a batch row, or under J2 pruning the batch rows plus the
    key's target rows with ``valid_to >=`` the key's earliest batch
    ``updated_at``; other rows pass through unchanged.  Inside it the CTE
    chain of ``build_scd2_merge_source`` runs, and the MERGE's rules apply
    per row: a surviving target row takes only ``merge_update_cols`` from
    the recomputed audit values, a surviving batch row (an insert) all
    four, and a target row collapsed out of the timeline is dropped.

    A target row ``incremental_predicates`` exclude matches nothing in the
    MERGE (``get_incremental_scd2_sql.sql:247-255``), so it enters twice: a
    pass-through copy (``_pt``) kept out of the merge, and a merge copy
    (``_unm``) that, if it survives, inserts with all four audit columns
    recomputed — the reference's key-duplicating hazard."""
    business_cols = cfg.business_columns(batch.columns)
    check_cols = cfg.check_columns(batch.columns)
    keys = list(cfg.unique_key)
    u = cfg.updated_at_column
    old = {c: f"_old{c}" for c in cfg.audit_columns}
    types = {f.name.lower(): f.dataType for f in target.schema.fields}
    if bucketing is None:
        target, untouched = split_by_keys(target, keys, batch)
    flags = ["_pt", "_unm"] if cfg.incremental_predicates else []
    if flags:
        fails = ~_predicate(cfg)
        target = target.withColumn(
            "_pt", F.explode(F.array_distinct(F.array(F.lit(False), fails)))
        ).withColumn("_unm", fails & ~F.col("_pt"))
    rows = target.select(
        *business_cols,
        *[F.col(c).alias(o) for c, o in old.items()],
        F.lit(0).alias(PRIORITY_COL),
        *flags,
    ).unionByName(
        batch.select(
            *business_cols,
            *[F.lit(None).cast(types[c.lower()]).alias(o) for c, o in old.items()],
            F.lit(17).alias(PRIORITY_COL),
            *[F.lit(False).alias(f) for f in flags],
        )
    )
    if bucketing is None:
        scope = []
        rows = rows.withColumn(HASH_COL, surrogate_key(check_cols))
    else:
        bucket, n_buckets = bucketing
        scope = [BUCKET_COL]
        rows = rows.withColumns(
            {BUCKET_COL: bucket, HASH_COL: surrogate_key(check_cols)}
        ).repartition(n_buckets, BUCKET_COL)

    is_new = F.col(PRIORITY_COL) == 17
    per_key = Window.partitionBy(*scope, *keys)
    if cfg.update_all_previous_records:
        in_merge = F.max(PRIORITY_COL).over(per_key) == 17
    else:
        first_new = F.min(F.when(is_new, F.col(u))).over(per_key)
        in_merge = is_new | F.coalesce(
            F.col(old[cfg.valid_to_column]) >= first_new, F.lit(False)
        )
    if flags:
        in_merge = in_merge & ~F.col("_pt")
    rows = rows.withColumn(IN_MERGE_COL, in_merge)
    merging = F.col(IN_MERGE_COL)
    part = [*scope, *keys, IN_MERGE_COL]
    # A target row the MERGE can match: not a predicate-failing row's copy.
    matchable = F.col(PRIORITY_COL) == 0
    if flags:
        matchable = matchable & ~F.col("_pt") & ~F.col("_unm")

    # pick_a_key_any_key: previous wins (priority 0 < 17), then values.
    # The first merging row of a (key, updated_at) group is its MERGE
    # source row; the group's other matchable target rows (a full key an
    # earlier predicate merge duplicated) stay, as followers of it.
    rows = (
        rows.withColumn(
            "_is_dup", _is_dup_expr(rows, cfg, business_cols, True, part)
        )
        .withColumn("_fol", merging & F.col("_is_dup") & matchable)
        .filter(~merging | ~F.col("_is_dup") | F.col("_fol"))
    )
    source_row = merging & ~F.col("_fol")
    # A follower takes its source row's content hash: the lag and the
    # content runs below see one version per group.
    peers_up_to = key_window(part, u).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rows = rows.withColumn(
        HASH_COL,
        F.last(F.when(source_row, F.col(HASH_COL)), ignorenulls=True).over(
            peers_up_to
        ),
    )

    rows = rows.withColumn(
        PREV_HASH_COL, F.lag(HASH_COL).over(key_window(part, u))
    )
    if cfg.effective_collapse:
        # Survivor per (key, content-run), as in build_scd2_merge_source.
        rows = rows.withColumn(
            RUN_ID_COL,
            conditional_change_event(HASH_COL, PREV_HASH_COL, part, u),
        ).withColumn(
            "_rrn",
            F.row_number().over(
                Window.partitionBy(*part, "_fol", RUN_ID_COL).orderBy(
                    *_survivor_order(cfg, business_cols)
                )
            ),
        )
        keep = F.col("_rrn") == 1
    else:
        keep = (
            F.col(PREV_HASH_COL).isNull()
            | (F.col(HASH_COL) != F.col(PREV_HASH_COL))
            | ~is_new  # never drop a persisted version
        )
    if flags:
        is_new = is_new | F.col("_unm")  # an unmatched survivor inserts

    # The canonical timeline: the kept source rows.  Each group's source
    # row hands its keep flag and recomputed audit values to the group;
    # the MERGE applies them to the source row and every follower, and
    # inserts a new (or unmatched) source row only when no target row of
    # its group matches.
    rows = rows.withColumn("_tl", source_row & keep)
    timeline = [*scope, *keys, "_tl"]
    group = Window.partitionBy(*scope, *keys, u)
    recomputed = F.struct(
        F.col("_tl").alias("_keep"),
        *[e.alias(c) for e, c in zip(_audit_exprs(cfg, timeline), cfg.audit_columns)],
    )
    rows = rows.withColumns({
        "_src": F.first(F.when(source_row, recomputed), ignorenulls=True).over(group),
        "_matched": F.max(matchable & ~source_row).over(group),
    })
    touched = F.col("_src").isNotNull() & (source_row | matchable)
    emit = F.when(
        touched, F.col("_src._keep") & (matchable | ~F.col("_matched"))
    ).otherwise(~F.col("_unm") if flags else F.lit(True))

    update_set = {c.lower() for c in cfg.merge_update_cols}
    merged = rows.filter(emit).select(
        *business_cols,
        *[
            F.when(
                touched & ((source_row & is_new) | F.lit(c.lower() in update_set)),
                F.col("_src")[c],
            ).otherwise(F.col(old[c])).alias(c)
            for c in cfg.audit_columns
        ],
        *scope,
    )
    if bucketing is not None:
        return merged
    return untouched.select(*merged.columns).unionByName(merged)


def _merge_via_source(
    target: DataFrame, batch: DataFrame, cfg: ScdConfig, windows: KeyWindows,
) -> DataFrame:
    """The merge as its MERGE source (``build_scd2_merge_source``) joined
    back to the target: the shape of a non-default ``windows`` strategy
    (the salted route's hot subset), and the tests' reference for
    :func:`_window_merge`.  The source (persisted: a ``functions.caching``
    barrier, like ``prev``) is broadcast when its count is at most
    ``BROADCAST_MAX_ROWS``, so the target streams through one left join."""
    source, prev, business_cols = build_scd2_merge_source(
        target, batch, cfg, windows=windows
    )
    # The merge source feeds both the join and the inserts anti-join —
    # persist so its window chain runs once.
    source = barrier(source)
    audit_cols = cfg.audit_columns
    all_cols = business_cols + audit_cols

    # Incremental predicates (merge-time pruning) split the target: rows that
    # cannot satisfy the predicates pass through untouched —
    # get_incremental_scd2_sql.sql:247-255.
    if cfg.incremental_predicates:
        pred = _predicate(cfg)
        tgt_in = target.filter(pred)
        tgt_out = target.filter(~pred)
    else:
        tgt_in, tgt_out = target, None

    dest = tgt_in.withColumn(KEY_COL, surrogate_key(cfg.scd2_unique_key))

    src = F.broadcast(source) if source.count() <= BROADCAST_MAX_ROWS else source
    s_cols = {c: F.col(f"s.{c}") for c in source.columns}
    joined = dest.alias("d").join(
        src.alias("s"), F.col(f"d.{KEY_COL}") == F.col(f"s.{KEY_COL}"), "left"
    )

    matched_keep = F.col(f"s.{KEY_COL}").isNull()
    is_delete = F.col(f"s.{OP_COL}") == "delete"
    update_set = set(c.lower() for c in cfg.merge_update_cols)

    # Updated cols come from source when matched, else dest; non-updated
    # cols always from dest.
    resolved = joined.filter(matched_keep | ~is_delete).select(
        *[
            F.when(
                matched_keep | F.lit(c.lower() not in update_set),
                F.col(f"d.{c}"),
            )
            .otherwise(s_cols[c])
            .alias(c)
            for c in all_cols
        ]
    )

    # Inserts: source upserts whose full SCD2 key is absent from the target.
    # Matched target keys are a subset of the previous_records slice (every
    # target version sharing a batch row's full key also shares its business
    # key), so the anti-join runs small-vs-small instead of re-scanning the
    # target.  With incremental_predicates the reference ANDs them into the
    # MERGE ON clause (get_incremental_scd2_sql.sql:247-255): a target row
    # the predicates exclude does NOT match, so its source twin inserts
    # (duplicating the full key — the reference's documented hazard); mirror
    # that by anti-joining against the predicate-passing slice only.  That
    # slice is derived from dest (prev lacks the audit columns predicates
    # usually reference); the broadcast semi-join keeps it delta-sized.
    if cfg.incremental_predicates:
        prev_keys = dest.join(
            F.broadcast(source.select(KEY_COL).distinct()), KEY_COL, "left_semi"
        ).select(KEY_COL)
    else:
        prev_keys = prev.select(KEY_COL)
    inserts = (
        source.filter(F.col(OP_COL) == "upsert")
        .join(prev_keys, KEY_COL, "left_anti")
        .select(*[F.col(c) for c in all_cols])
    )

    result = resolved.unionByName(inserts)
    if tgt_out is not None:
        result = result.unionByName(tgt_out.select(*[F.col(c) for c in all_cols]))
    return result


def scd2_incremental(
    target: DataFrame, batch: DataFrame, cfg: ScdConfig,
    windows: KeyWindows = DEFAULT_WINDOWS,
) -> DataFrame:
    """Apply one incremental SCD2 batch and return the NEW full table.

    MERGE semantics (``get_incremental_scd2_sql.sql:238-268``) re-expressed
    without Delta: the match condition is null-safe hash equality on the full
    SCD2 key; matched 'delete' rows drop, matched 'upsert' rows update only
    ``cfg.merge_update_cols``, unmatched 'upsert' rows insert.

    The stock merge is one window chain (:func:`_window_merge`), planned
    with no job and no persist.  A target carrying ``_scd_bucketing`` (a
    bucketed ``ScdTable`` attaches its bucket expression and
    affected-bucket count to the slice it passes in) runs it shuffled on
    ``_scd_bucket``, and the result keeps that column for the sink's
    write.  A non-default ``windows`` strategy (the salted route's hot
    subset) merges through the MERGE source and a join-back instead
    (:func:`_merge_via_source`)."""
    # Validate the RAW batch BEFORE alignment: a batch missing a
    # config-critical column (updated_at, a unique_key component,
    # deleted_at/created_at, an explicit check column) is a malformed
    # input that must keep raising the reference's loud ScdConfigError —
    # NULL-riding it as "drop-column evolution" would silently merge
    # garbage (r13 self-review).  Only columns that SURVIVE this check
    # can legitimately differ between the two sides.
    cfg = cfg.validate()
    cfg.validate_against_schema(batch.schema)
    bucketing = getattr(target, "_scd_bucketing", None)
    # Schema evolution (add/drop column) aligns the two sides next; a
    # no-op driver-side when schemas agree (see align_evolved_schemas).
    target, batch = align_evolved_schemas(target, batch, cfg)
    if windows is not DEFAULT_WINDOWS:
        return _merge_via_source(target, batch, cfg, windows)
    return _window_merge(target, batch, cfg, bucketing)
