"""Opt-in salted hot-key windows for the SCD2 chain.

The audit/merge window chain partitions by the business key, so a key with
millions of versions lands WHOLE on one task (AQE splits skewed joins, not
windows) — measured straggler tail on local[32]: ~16 s at 1M versions,
~142 s at 10M (``scripts/hot_key_window_tail.py``, BASELINE round-10c).
This module parallelizes such keys S ways while producing BIT-IDENTICAL
output to the unsalted chain (pinned by
``tests/test_property_salted_scd2.py``).

Mechanism — contiguous time-range salts + neighbor ghosts:

* Each hot key's history is bucketed into ``salts`` contiguous
  ``updated_at`` ranges (uniform over the key's [min, max] span — balance
  is approximate and irrelevant to correctness; NULL ``updated_at`` rows,
  which sort last, map to the last salt).  Same-valued ``updated_at`` rows
  always share a salt, so a version group never splits.
* Every window then partitions by (key, salt).  To make lag/lead see the
  true GLOBAL neighbors, each (key, salt)'s boundary rows are duplicated
  into the adjacent non-empty salt as flagged GHOST rows (a per-key
  window over the tiny one-row-per-salt boundary set handles empty-salt
  gaps), and ghosts are dropped after the window.  One ghost deep is
  sufficient: every chain expression needs at most the immediate
  predecessor/successor.
* ``row_number``/running-sum semantics get per-salt offsets from a tiny
  (keys × salts) aggregate; the ``effective_collapse`` survivor pick runs
  locally per (key, run, salt) then globally over the ≤ salts candidates
  per run; ``_is_current`` becomes a per-key max-``updated_at`` broadcast
  join (equivalent to the reference's ``row_number() desc = 1`` because
  the chain input is post-dedup: at most one row per (key, updated_at)
  including the NULL group — the same post-dedup fact that makes the
  marker-based ``is_first`` equivalent to ``lag(updated_at) IS NULL``).

Entry points: ``scd2_initial_load_salted`` / ``scd2_incremental_salted``
split hot keys from the feed (explicit ``hot_keys`` or a version-count
threshold), run the vanilla chain for the normal subset and the salted
strategy for the hot subset — SCD2 is per-key independent, so the union
is exact — and the core operators accept the strategy via their
``windows`` parameter (``operators/scd2.py::KeyWindows``).

Deliberately opt-in (reference parity: ``scd2.py`` module note option
(c)): detection costs one aggregation pass over the inputs, and the
salted chain adds ~3 extra shuffles + eager stage barriers of the HOT
subset only.  Know when NOT to use it: on local[32] the plain
single-task sort beats this path at every measurable size (BASELINE
round-10c — 1M versions: 34 vs 21 s incremental; 10M: the barriers'
materialized copies exceed a single 8 GB JVM while plain completes).
The payoff case is a real cluster with per-executor memory, where the
ONE task holding a ≥10M-version key is itself what spills or OOMs —
salting spreads that history S ways, trading extra shuffles for not
dying.  The exactness guarantee (harness above) is what makes that
trade safe to reach for.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.caching import barrier
from ..plans.config import ScdConfig
from .scd2 import (
    HASH_COL,
    PREV_HASH_COL,
    RUN_ID_COL,
    KeyWindows,
    _dedup_order,
    scd2_incremental,
    scd2_initial_load,
)

SALT_COL = "_scd2_salt"
GHOST_COL = "_scd2_ghost"


def _ns_eq(left: str, right: str, keys: Sequence[str]) -> Column:
    """Null-safe equi-join condition over aliased key columns (unique-key
    columns may legitimately hold NULLs)."""
    return reduce(
        Column.__and__,
        [F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}")) for k in keys],
    )


class SaltedKeyWindows(KeyWindows):
    """Drop-in :class:`KeyWindows` strategy computing every chain window
    over (key, contiguous-time-salt) partitions with neighbor ghosts."""

    def __init__(self, salts: int = 32):
        if salts < 2:
            raise ValueError("salts must be >= 2")
        self.salts = salts

    # -- machinery --------------------------------------------------------

    def _with_salt(self, df: DataFrame, cfg: ScdConfig) -> DataFrame:
        # The salt ranges are a pure function of (key, updated_at), and no
        # chain stage reorders or re-times rows — so the column is computed
        # ONCE and carried through the chain (dedup/compare keep it); later
        # stages reuse it instead of re-aggregating per-key bounds.
        if SALT_COL in df.columns:
            return df
        keys = list(cfg.unique_key)
        um = F.unix_micros(F.col(cfg.updated_at_column).cast("timestamp"))
        bounds = (
            df.groupBy(*keys)
            .agg(F.min(um).alias("_mn"), F.max(um).alias("_mx"))
        )
        joined = df.alias("d").join(
            F.broadcast(bounds).alias("b"), _ns_eq("d", "b", keys)
        )
        span = F.col("b._mx") - F.col("b._mn") + F.lit(1)
        salt = (
            F.when(um.isNull() | F.col("b._mn").isNull(), F.lit(self.salts - 1))
            .otherwise(
                F.least(
                    F.lit(self.salts - 1),
                    F.floor((um - F.col("b._mn")) * self.salts / span),
                )
            )
        )
        return joined.select("d.*", salt.cast("int").alias(SALT_COL))

    def _ghosted(
        self, salted: DataFrame, cfg: ScdConfig, order: Sequence[Column]
    ) -> DataFrame:
        """Append each (key, salt)'s last row into the NEXT non-empty salt
        (predecessor ghost) and first row into the PREVIOUS non-empty salt
        (successor ghost), flagged ``GHOST_COL``."""
        keys = list(cfg.unique_key)
        w = Window.partitionBy(*keys, SALT_COL).orderBy(*order)
        wp = Window.partitionBy(*keys, SALT_COL)
        # Checkpoint barrier: the ghost mechanism references its input
        # three times (rows + two boundary extracts) and the chain stacks
        # three such stages, so without a barrier the upstream plan
        # re-executes multiplicatively (measured: seconds at 30 rows,
        # unbounded at scale).  A persist stops recomputation but keeps
        # the logical plan, which grows ~3x per stacked stage — measured
        # driver-heap OOM from plan tree strings at toy sizes — so the
        # barrier also truncates lineage (same trade as clustering.py).
        marked = barrier(
            salted.withColumn("_rn", F.row_number().over(w)).withColumn(
                "_cnt", F.count(F.lit(1)).over(wp)
            ),
            checkpoint=True,
        )
        tiny = Window.partitionBy(*keys).orderBy(F.col(SALT_COL))
        preds = (
            marked.filter(F.col("_rn") == F.col("_cnt"))
            .withColumn("_tgt", F.lead(SALT_COL).over(tiny))
            .filter(F.col("_tgt").isNotNull())
            .withColumn(SALT_COL, F.col("_tgt"))
            .drop("_tgt")
        )
        succs = (
            marked.filter(F.col("_rn") == 1)
            .withColumn("_tgt", F.lag(SALT_COL).over(tiny))
            .filter(F.col("_tgt").isNotNull())
            .withColumn(SALT_COL, F.col("_tgt"))
            .drop("_tgt")
        )
        return (
            marked.withColumn(GHOST_COL, F.lit(False))
            .unionByName(preds.withColumn(GHOST_COL, F.lit(True)))
            .unionByName(succs.withColumn(GHOST_COL, F.lit(True)))
            .drop("_rn", "_cnt")
        )

    def _w(self, cfg: ScdConfig, order: Sequence[Column]):
        return Window.partitionBy(*cfg.unique_key, SALT_COL).orderBy(*order)

    # -- chain stages ------------------------------------------------------

    def dedup_first_per_version(
        self, df: DataFrame, cfg: ScdConfig, business_cols: Sequence[str],
        with_priority: bool,
    ) -> DataFrame:
        u = F.col(cfg.updated_at_column)
        order = [u.asc_nulls_last()] + _dedup_order(
            df, cfg, business_cols, with_priority=with_priority
        )
        g = self._ghosted(self._with_salt(df, cfg), cfg, order)
        w = self._w(cfg, order)
        prev_u = F.lag(u).over(w)
        prev_marker = F.lag(F.lit(1)).over(w)
        # Identical rule to the unsalted _dedup_first_per_version: drop a
        # row iff its immediate predecessor (here possibly a ghost — the
        # true global predecessor) shares its updated_at.  A version group
        # never spans salts, and the rule only consults the IMMEDIATE
        # predecessor's updated_at, so the survivor set is exact.
        return (
            g.withColumn(
                "_is_dup", prev_marker.isNotNull() & prev_u.eqNullSafe(u)
            )
            .filter(~F.col("_is_dup") & ~F.col(GHOST_COL))
            .drop("_is_dup", GHOST_COL)  # SALT_COL kept: reused downstream
        )

    def compare_versions(
        self, df: DataFrame, cfg: ScdConfig, with_runs: bool
    ) -> DataFrame:
        keys = list(cfg.unique_key)
        order = [F.col(cfg.updated_at_column).asc_nulls_last()]
        g = self._ghosted(self._with_salt(df, cfg), cfg, order)
        w = self._w(cfg, order)
        out = g.withColumn(PREV_HASH_COL, F.lag(HASH_COL).over(w))
        if with_runs:
            # conditional_change_event = running sum of change flags; the
            # flag is lag-local (ghost gives the true predecessor), the
            # running sum gets a per-salt offset from earlier salts' flag
            # totals (ghost flags zeroed so they never count).  The flag
            # reads the materialized lag: an inline one would be computed
            # once per reference.
            prev = F.col(PREV_HASH_COL)
            changed = (prev.isNull() | (F.col(HASH_COL) != prev)).cast("int")
            out = out.withColumn(
                "_chg", F.when(F.col(GHOST_COL), F.lit(0)).otherwise(changed)
            ).withColumn(
                "_lrun",
                F.sum("_chg").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            )
            tot = (
                out.select(*keys, SALT_COL, "_chg")
                .groupBy(*keys, SALT_COL)
                .agg(F.sum("_chg").alias("_tot"))
            )
            offw = (
                Window.partitionBy(*keys)
                .orderBy(F.col(SALT_COL))
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            off = tot.withColumn(
                "_off", F.coalesce(F.sum("_tot").over(offw), F.lit(0))
            ).withColumnRenamed(SALT_COL, "_off_salt")
            cond = _ns_eq("o", "f", keys) & (
                F.col(f"o.{SALT_COL}") == F.col("f._off_salt")
            )
            out = (
                out.alias("o")
                .join(F.broadcast(off).alias("f"), cond)
                .select("o.*", (F.col("o._lrun") + F.col("f._off")).alias(RUN_ID_COL))
                .drop("_chg", "_lrun")
            )
        return out.filter(~F.col(GHOST_COL)).drop(GHOST_COL)

    def collapse_survivors(
        self, df: DataFrame, cfg: ScdConfig, order: Sequence[Column]
    ) -> DataFrame:
        # Local first-per-(key, run, salt) candidates, then the global
        # argmin among each run's <= salts candidates — partitions of the
        # second window are tiny by construction, so no ghosts needed.
        keys = list(cfg.unique_key)
        salted = self._with_salt(df, cfg)
        lrn = F.row_number().over(
            Window.partitionBy(*keys, RUN_ID_COL, SALT_COL).orderBy(*order)
        )
        cand = salted.withColumn("_lrn", lrn).filter(F.col("_lrn") == 1)
        grn = F.row_number().over(
            Window.partitionBy(*keys, RUN_ID_COL).orderBy(*order)
        )
        return (
            cand.withColumn("_grn", grn)
            .filter(F.col("_grn") == 1)
            .drop("_lrn", "_grn", SALT_COL)
        )

    def audit_select(
        self, df: DataFrame, cfg: ScdConfig, business_cols: Sequence[str],
        extra: Sequence[Column] = (),
    ) -> DataFrame:
        keys = list(cfg.unique_key)
        u_raw = F.col(cfg.updated_at_column)
        uc = u_raw.cast("timestamp")
        order = [u_raw.asc_nulls_last()]
        salted = self._with_salt(df, cfg)
        # Attach the per-key max updated_at BEFORE ghosting (renamed join
        # keys: the downstream windows reference the unique-key columns
        # unqualified, so the join must not duplicate them).
        mx = salted.groupBy(*keys).agg(F.max(uc).alias("_mx_u")).select(
            *[F.col(k).alias(f"_mxk{i}") for i, k in enumerate(keys)], "_mx_u"
        )
        mcond = reduce(
            Column.__and__,
            [F.col(k).eqNullSafe(F.col(f"_mxk{i}")) for i, k in enumerate(keys)],
        )
        salted = salted.join(F.broadcast(mx), mcond).drop(
            *[f"_mxk{i}" for i in range(len(keys))]
        )
        g = self._ghosted(salted, cfg, order)
        w = self._w(cfg, order)
        # Post-dedup there is at most one row per (key, updated_at)
        # including the NULL group, so the marker-based is_first is
        # equivalent to the reference's lag(updated_at) IS NULL and
        # row_number() = 1 forms (functions/audit.py).
        is_first = F.lag(F.lit(1)).over(w).isNull()
        lead_u = F.lead(uc).over(w)
        first_parts: list[Column] = []
        if cfg.deleted_at_column is not None:
            first_parts.append(F.col(cfg.deleted_at_column).cast("timestamp"))
        if cfg.created_at_column is not None:
            first_parts.append(F.col(cfg.created_at_column).cast("timestamp"))
        if first_parts:
            vf = F.when(is_first, F.coalesce(*first_parts, uc)).otherwise(uc)
        else:
            vf = uc
        vt = F.coalesce(lead_u, F.lit(cfg.default_valid_to).cast("timestamp"))
        if cfg.deleted_at_column is None:
            ct = F.when(is_first, F.lit("I")).otherwise(F.lit("U"))
        else:
            d = F.col(cfg.deleted_at_column)
            ct = (
                F.when(d.isNotNull(), F.lit("D"))
                .when(is_first, F.lit("I"))
                .when(F.lag(d).over(w).isNotNull(), F.lit("I"))
                .otherwise(F.lit("U"))
            )
        # _is_current == row_number() over (key order by u desc) = 1, which
        # post-dedup is exactly "u is the key's max non-NULL u, or the
        # single all-NULL row".
        ic = uc.eqNullSafe(F.col("_mx_u"))
        # Window columns are materialized BEFORE the ghost filter — the
        # ghosts exist precisely so these windows see the true neighbors.
        withw = (
            g.withColumn("_a_ic", ic)
            .withColumn("_a_vf", vf)
            .withColumn("_a_vt", vt)
            .withColumn("_a_ct", ct)
            .filter(~F.col(GHOST_COL))
        )
        return withw.select(
            *[F.col(c) for c in business_cols],
            F.col("_a_ic").alias(cfg.is_current_column),
            F.col("_a_vf").alias(cfg.valid_from_column),
            F.col("_a_vt").alias(cfg.valid_to_column),
            F.col("_a_ct").alias(cfg.change_type_column),
            *extra,
        )


# -- hot-key split entry points -------------------------------------------


def _require_orderable_updated_at(df: DataFrame, cfg: ScdConfig) -> None:
    """Salt ranges are derived from ``unix_micros(updated_at::timestamp)``
    while every chain window orders by the RAW column — the two must agree
    on row order or boundary ghosts are not the true lag/lead neighbors.
    Temporal types cast identically; numeric epochs cast monotonically;
    anything else (strings especially: lexicographic '2024-1-2...' vs
    parsed) can disagree, so refuse it rather than silently break the
    exact-equivalence contract."""
    from pyspark.sql.types import DateType, NumericType, TimestampNTZType, TimestampType

    if cfg.updated_at_column not in df.columns:
        # Let the downstream window raise Spark's usual unresolved-column
        # analysis error (same message as the vanilla path) instead of a
        # raw KeyError from StructType.__getitem__ here.
        return
    dt = df.schema[cfg.updated_at_column].dataType
    if not isinstance(
        dt, (DateType, TimestampType, TimestampNTZType, NumericType)
    ):
        raise ValueError(
            f"salted SCD2 windows require a temporal or numeric "
            f"'{cfg.updated_at_column}' column (got {dt.simpleString()}): "
            "salt ranges come from the timestamp cast, which must be "
            "order-consistent with the raw window ordering"
        )


def detect_hot_keys(
    key_rows: DataFrame, cfg: ScdConfig, threshold: int
) -> DataFrame:
    """Distinct key tuples with >= threshold rows in ``key_rows`` (a
    projection of the chain's input rows onto the unique-key columns)."""
    keys = list(cfg.unique_key)
    return (
        key_rows.groupBy(*keys)
        .count()
        .filter(F.col("count") >= threshold)
        .select(*keys)
    )


def _split(df: DataFrame, cfg: ScdConfig, hot: DataFrame):
    keys = list(cfg.unique_key)
    cond = _ns_eq("l", "h", keys)
    h = F.broadcast(hot.select(*keys).distinct())
    return (
        df.alias("l").join(h.alias("h"), cond, "left_semi"),
        df.alias("l").join(h.alias("h"), cond, "left_anti"),
    )


def scd2_initial_load_salted(
    df: DataFrame,
    cfg: ScdConfig,
    salts: int = 32,
    hot_key_threshold: int = 1_000_000,
    hot_keys: DataFrame | None = None,
) -> DataFrame:
    """``scd2_initial_load`` with hot keys routed through the salted
    strategy; exact same output (SCD2 is per-key independent)."""
    cfg = cfg.validate()
    _require_orderable_updated_at(df, cfg)
    if hot_keys is None:
        # Checkpoint barrier (not a persist): the key set feeds four joins
        # below (two semi, two anti, each broadcasting it), and under a
        # persist the full detection lineage re-ANALYZES at every
        # reference — multiplied again by each downstream re-reference of
        # the split sides, the dominant cost of the salted chain at bench
        # scale was driver plan analysis, not execution.  A leaf plan cuts
        # that multiplicatively; the materialization job replaces the
        # emptiness probe the persist path paid anyway (same trade as
        # SaltedKeyWindows._ghosted).
        hot_keys = barrier(
            detect_hot_keys(df.select(*cfg.unique_key), cfg, hot_key_threshold),
            checkpoint=True,
        )
    if not hot_keys.limit(1).count():
        return scd2_initial_load(df, cfg)
    hot_df, norm_df = _split(df, cfg, hot_keys)
    return scd2_initial_load(norm_df, cfg).unionByName(
        scd2_initial_load(hot_df, cfg, windows=SaltedKeyWindows(salts))
    )


def scd2_incremental_salted(
    target: DataFrame,
    batch: DataFrame,
    cfg: ScdConfig,
    salts: int = 32,
    hot_key_threshold: int = 1_000_000,
    hot_keys: DataFrame | None = None,
    route_log: list | None = None,
    **kwargs,
) -> DataFrame:
    """``scd2_incremental`` with hot keys routed through the salted
    strategy.  Hotness counts target versions OF BATCH KEYS plus batch
    rows (the merge's window chain only ever sees that union), so
    detection costs one broadcast-semi scan — comparable to the merge's
    own previous-records pass.

    ``route_log``, when given, receives one ``("plain"|"salted", n_hot)``
    tuple per call — observability for the adaptive default
    (:func:`scd2_incremental_adaptive`) and its routing pins; the hot
    path is untouched when it is None (the salted branch pays one extra
    count over the already-materialized, few-row hot-key set).

    The hot-key set and the salted chain's stage barriers are LOCAL
    checkpoints (``functions.caching.barrier(..., checkpoint=True)``):
    their blocks live on the executors that computed them and their
    lineage is cut, so the result cannot be recomputed after one of those
    executors is lost — the query fails instead.  They are released when
    the enclosing scope closes (a sink's write) or by
    ``release_caches()``; the result must not run again after that."""
    cfg = cfg.validate()
    _require_orderable_updated_at(batch, cfg)
    # The target's column participates in the same windows after the
    # union (type coercion could resolve a string target against a
    # timestamp batch) — gate both sides.
    _require_orderable_updated_at(target, cfg)
    keys = list(cfg.unique_key)
    own_hot = hot_keys is None
    # A bucketed ScdTable attaches the merge input's row bound (target
    # slice + batch, see scd2_incremental): no key can count more rows
    # than the whole input, so below the threshold the plain route is
    # settled without the detection jobs.
    row_bound = getattr(target, "_scd_row_bound", None)
    if own_hot and row_bound is not None and row_bound < hot_key_threshold:
        if route_log is not None:
            route_log.append(("plain", 0))
        return scd2_incremental(target, batch, cfg, **kwargs)
    if own_hot:
        cand = batch.select(*keys).distinct()
        cond = _ns_eq("l", "h", keys)
        affected = target.alias("l").join(
            F.broadcast(cand).alias("h"), cond, "left_semi"
        ).select(*keys)
        # Checkpoint barrier (not a persist): the key set feeds four joins
        # below (two semi, two anti, each broadcasting it), and each split
        # side is itself re-referenced several times inside
        # scd2_incremental — under a persist the detection lineage (target
        # semi-join + aggregation) re-ANALYZES at every one of those
        # references, and driver plan analysis, not execution, dominated
        # the salted/adaptive merges at bench scale.  A leaf plan cuts the
        # re-analysis multiplicatively; the materialization job replaces
        # the emptiness probe the persist path paid anyway (same trade as
        # SaltedKeyWindows._ghosted).
        hot_keys = barrier(
            detect_hot_keys(
                affected.unionByName(batch.select(*keys)), cfg, hot_key_threshold
            ),
            checkpoint=True,
        )
    if not hot_keys.limit(1).count():
        if route_log is not None:
            route_log.append(("plain", 0))
        return scd2_incremental(target, batch, cfg, **kwargs)
    if route_log is not None:
        route_log.append(("salted", hot_keys.count()))
    hot_t, norm_t = _split(target, cfg, hot_keys)
    hot_b, norm_b = _split(batch, cfg, hot_keys)
    norm = scd2_incremental(norm_t, norm_b, cfg, **kwargs)
    hot = scd2_incremental(
        hot_t, hot_b, cfg, windows=SaltedKeyWindows(salts), **kwargs
    )
    return norm.unionByName(hot)


# The measured local[32] crossover for the salted chain routed THROUGH the
# bucketed generational sink sits between 1M and 4M hot versions/key
# (BASELINE round-12g / round-13, scripts/salted_bucketed_compose.py: plain
# still wins at 1M — the chain's checkpoint overhead exceeds the straggler
# saving — and salted wins by 4M, well before the ~10M bytes-per-task
# memory wall from round 11c).  The adaptive default routes at 2M: inside
# the band, so neither side of the crossover is mis-routed by more than the
# band's own measurement noise.
ADAPTIVE_HOT_KEY_THRESHOLD = 2_000_000


def scd2_incremental_adaptive(
    target: DataFrame,
    batch: DataFrame,
    cfg: ScdConfig,
    salts: int = 32,
    hot_key_threshold: int = ADAPTIVE_HOT_KEY_THRESHOLD,
    hot_keys: DataFrame | None = None,
    route_log: list | None = None,
    **kwargs,
) -> DataFrame:
    """Skew-ADAPTIVE SCD2 merge strategy — the opt-in ``merge_fn`` that
    removes the know-your-skew-in-advance requirement (VERDICT r12 item
    5): pass ``ScdTable(..., merge_fn=scd2_incremental_adaptive)`` (or to
    ``Scd2BucketedSink``/``scd_build``) and each merge measures the
    batch's own skew and routes itself.

    Per merge, one cheap aggregation (a broadcast-semi scan of the
    affected target slice plus the batch — comparable to the merge's own
    previous-records pass) counts versions per key for exactly the keys
    this batch touches; keys at or above ``hot_key_threshold`` take the
    salted window chain, everything else the plain chain, and the two
    results union (SCD2 is per-key independent, so the split is exact —
    the equivalence is pinned both sides of the threshold in
    tests/test_property_salted_scd2.py).  Hotness counts TARGET versions
    of batch keys plus batch rows, not batch rows alone: a key that grew
    hot across ten thousand small batches must still route salted, which
    a batch-only count would never notice.  On a bucketed ``ScdTable``
    whose manifest row counts bound the merge input below the threshold,
    the aggregation is skipped: no key can be hot.

    The default threshold sits inside the measured plain/salted crossover
    band for the composed (bucketed × salted) sink — see
    ``ADAPTIVE_HOT_KEY_THRESHOLD`` above.  ``route_log`` exposes each
    call's decision as ``("plain"|"salted", n_hot_keys)``.

    The detection's hot-key set and the salted route's stage barriers are
    local checkpoints, as in :func:`scd2_incremental_salted`: a result
    built on them cannot be recomputed after an executor holding their
    blocks is lost, nor after their release."""
    return scd2_incremental_salted(
        target, batch, cfg,
        salts=salts,
        hot_key_threshold=hot_key_threshold,
        hot_keys=hot_keys,
        route_log=route_log,
        **kwargs,
    )
