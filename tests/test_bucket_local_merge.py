"""The SCD2 window chain (``operators/scd2.py::_window_merge``, the merge
``scd2_incremental`` plans on both sinks): row-for-row equal to the MERGE
source joined back (``_merge_via_source``) on the same target and batch,
in both shapes — the vanilla split and the bucketed sink's slice — and on
the bucketed sink planned as one shuffle on ``_scd_bucket`` with no join
and no persisted intermediate."""

from __future__ import annotations

from collections import Counter
from datetime import datetime

import pytest
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from dbt_scd2_utils_spark import ScdConfig, scd2_incremental, scd2_initial_load
from dbt_scd2_utils_spark.functions import caching
from dbt_scd2_utils_spark.operators.scd2 import (
    DEFAULT_WINDOWS,
    _merge_via_source,
    align_evolved_schemas,
)
from dbt_scd2_utils_spark.plans.build import BUCKET_COL, ScdTable
from tests.fixtures.seeds import CUSTOMERS_RAW, CUSTOMERS_SCHEMA


def assert_bucket_local_plan(result) -> None:
    """The merge plans exactly one Exchange (hash-partitioned on the
    bucket), no join and no cached relation besides the batch."""
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert f"Exchange hashpartitioning({BUCKET_COL}#" in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("InMemoryTableScan") == 1, plan  # the cached batch


def _ts(day: int, hour: int = 0) -> datetime:
    return datetime(2024, 1, day, hour)


SCHEMA = StructType([
    StructField("k1", StringType()),
    StructField("k2", IntegerType()),
    StructField("name", StringType()),
    StructField("amount", IntegerType()),
    StructField("created_at", TimestampType()),
    StructField("deleted_at", TimestampType()),
    StructField("_loaded_at", TimestampType()),
    StructField("_updated_at", TimestampType()),
])


def _row(k1, k2, name, amount, u, deleted=None, loaded=None):
    return (k1, k2, name, amount, _ts(1), deleted, loaded or _ts(1), u)


HISTORY = [
    _row("b", 2, "b1", 10, _ts(3)),
    _row("b", 2, "b3", 30, _ts(5)),
    _row("b", 2, "b5", 50, _ts(7)),
    _row(None, 1, "n1", 1, _ts(3)),           # null key part
    _row("a", None, "a1", 5, _ts(4)),         # null key part
    _row("a", None, "a2", 6, _ts(6)),
    _row("c", 3, "c1", 7, _ts(2)),
    _row("c", 3, "c1", 7, _ts(9)),            # redundant version in the feed
] + [_row("u", i, f"u{i}", i, _ts(2 + i % 5)) for i in range(8)]  # untouched

BATCH = [
    _row("b", 2, "b2", 20, _ts(4), loaded=_ts(20)),          # late row
    _row("b", 2, "b3", 30, _ts(6), loaded=_ts(20)),          # late, same as b3
    _row("b", 2, "b3", 30, _ts(5), loaded=_ts(20)),          # re-delivery
    _row("b", 2, "b5", 50, _ts(10), _ts(10), _ts(20)),       # delete
    _row("b", 2, "b6", 60, _ts(12), loaded=_ts(20)),         # resurrection
    _row("a", None, "a2x", 9, _ts(6), loaded=_ts(20)),       # tie with target
    _row("a", None, "a3", 8, _ts(8), loaded=_ts(20)),
    _row("c", 3, "c2", 11, _ts(11), loaded=_ts(21)),         # same-u tie ...
    _row("c", 3, "c2", 12, _ts(11), loaded=_ts(20)),         # ... broken by loaded_at
    _row("c", 3, "c0", 7, _ts(1), loaded=_ts(20)),           # before all history
    _row(None, 1, "n1", 1, _ts(8), loaded=_ts(20)),          # no-change version
    _row(None, None, "nn", 2, _ts(8), loaded=_ts(20)),       # new all-null key
    _row("d", 4, "d1", 3, _ts(9), loaded=_ts(20)),           # new key
    _row("p", 9, "p4", 4, _ts(4), loaded=_ts(20)),           # into GAPPED's gap
]

# A key whose history has a gap (a version removed out of band), appended
# to the target as stored rows (audit columns last): J2 pruning
# (update_all_previous_records=false) leaves its first version, whose
# valid_to precedes the batch row, out of the merge.
GAPPED = [
    _row("p", 9, "p1", 1, _ts(2)) + (False, _ts(2), _ts(3), "I"),
    _row("p", 9, "p5", 5, _ts(5)) + (True, _ts(5), datetime(2999, 12, 31, 23, 59, 59), "U"),
]

LIFECYCLE = {
    "set": dict(created_at_column="created_at", deleted_at_column="deleted_at"),
    "unset": {},
}


def _target(spark, cfg, history):
    """The initial load of ``history`` plus the GAPPED key's stored rows."""
    target = scd2_initial_load(history, cfg)
    return spark.createDataFrame(target.collect() + GAPPED, target.schema)


def _merge_both(spark, cfg, target, batch, n_buckets=2):
    """(MERGE source joined back, vanilla chain, bucket-local chain)
    results for the same target and batch, as row multisets over the same
    columns."""
    reference = _merge_via_source(
        *align_evolved_schemas(target, batch, cfg), cfg, DEFAULT_WINDOWS
    )
    vanilla = scd2_incremental(target, batch, cfg)
    sliced = target.select("*")  # a separate frame to carry the attribute
    sliced._scd_bucketing = (
        ScdTable(spark, "unused", cfg, partition_buckets=3)._bucket_expr(sliced),
        n_buckets,
    )
    local = scd2_incremental(sliced, batch, cfg)
    assert BUCKET_COL in local.columns
    local = local.drop(BUCKET_COL)
    assert vanilla.columns == local.columns == reference.columns
    return [Counter(map(tuple, r.collect())) for r in (reference, vanilla, local)]


def _assert_chain_equals_merge_source(spark, cfg, target, batch, n_buckets=2):
    reference, vanilla, local = _merge_both(spark, cfg, target, batch, n_buckets)
    assert vanilla == reference
    assert local == reference
    return reference


def _cfg(lifecycle, update_all, collapse, predicates=()):
    return ScdConfig(
        unique_key=("k1", "k2"),
        update_all_previous_records=update_all,
        collapse_redundant_versions=collapse,
        incremental_predicates=predicates,
        **LIFECYCLE[lifecycle],
    )


@pytest.mark.filterwarnings("ignore:update_all_previous_records")
@pytest.mark.filterwarnings("ignore:collapse_redundant_versions")
@pytest.mark.parametrize("lifecycle", sorted(LIFECYCLE))
@pytest.mark.parametrize("update_all", [True, False])
@pytest.mark.parametrize("collapse", [True, False])
def test_bucket_local_equals_broadcast(spark, lifecycle, update_all, collapse):
    cfg = _cfg(lifecycle, update_all, collapse)
    reference = _assert_chain_equals_merge_source(
        spark, cfg, _target(spark, cfg, spark.createDataFrame(HISTORY, SCHEMA)),
        spark.createDataFrame(BATCH, SCHEMA),
    )
    assert sum(reference.values()) > len(HISTORY) // 2


# incremental_predicates AND into the MERGE ON clause: a target row they
# exclude passes through unchanged, and its merge copy inserts if it
# survives.  Both predicates exclude rows of touched keys here.
PREDICATES = {
    "current": ("_is_current = true",),
    "valid_to": ("_valid_to >= timestamp'2024-01-06 00:00:00'",),
}


@pytest.mark.filterwarnings("ignore:update_all_previous_records")
@pytest.mark.filterwarnings("ignore:collapse_redundant_versions")
@pytest.mark.parametrize("predicates", sorted(PREDICATES))
@pytest.mark.parametrize("lifecycle", sorted(LIFECYCLE))
@pytest.mark.parametrize("update_all", [True, False])
@pytest.mark.parametrize("collapse", [True, False])
def test_bucket_local_equals_broadcast_with_predicates(
    spark, predicates, lifecycle, update_all, collapse
):
    cfg = _cfg(lifecycle, update_all, collapse, PREDICATES[predicates])
    _assert_chain_equals_merge_source(
        spark, cfg, _target(spark, cfg, spark.createDataFrame(HISTORY, SCHEMA)),
        spark.createDataFrame(BATCH, SCHEMA),
    )


# A later batch over the full keys a predicate merge duplicated: a late
# version between the two copies' valid_to values (so J2 pruning keeps one
# copy of b1 and not the other), one on a duplicated version, one after
# it, an earlier-loaded copy of a1 that collapses the duplicated a1 out,
# and new versions.
LATER = [
    _row("b", 2, "b2z", 21, _ts(4, 12), loaded=_ts(22)),
    _row("b", 2, "b3", 30, _ts(5), loaded=_ts(22)),
    _row("b", 2, "b3y", 33, _ts(5, 12), loaded=_ts(22)),
    _row("a", None, "a1", 5, _ts(3), loaded=datetime(2023, 12, 31)),
    _row("a", None, "a4", 4, _ts(13), loaded=_ts(22)),
    _row("c", 3, "c3", 1, _ts(14), loaded=_ts(22)),
]


@pytest.mark.filterwarnings("ignore:update_all_previous_records")
@pytest.mark.filterwarnings("ignore:collapse_redundant_versions")
@pytest.mark.parametrize("predicates", sorted(PREDICATES))
@pytest.mark.parametrize("update_all", [True, False])
@pytest.mark.parametrize("collapse", [True, False])
@pytest.mark.parametrize("again", [False, True])
def test_chain_matches_every_row_of_a_duplicated_full_key(
    spark, predicates, update_all, collapse, again
):
    """A merge with predicates inserts a second row for a full key (the
    reference's documented hazard).  The MERGE of a later batch matches
    every row of that key to its one source row: each is updated, or
    deleted when the source row collapses out, and none is dropped as a
    duplicate."""
    first = _cfg("set", update_all, collapse, PREDICATES[predicates])
    target = _merge_via_source(
        _target(spark, first, spark.createDataFrame(HISTORY, SCHEMA)),
        spark.createDataFrame(BATCH, SCHEMA), first, DEFAULT_WINDOWS,
    )
    target = spark.createDataFrame(target.collect(), target.schema)
    full_keys = Counter((r.k1, r.k2, r._updated_at) for r in target.collect())
    assert max(full_keys.values()) == 2
    second = _cfg(
        "set", update_all, collapse, PREDICATES[predicates] if again else ()
    )
    _assert_chain_equals_merge_source(
        spark, second, target, spark.createDataFrame(LATER, SCHEMA)
    )


@pytest.mark.parametrize("evolution", ["add", "drop"])
def test_bucket_local_equals_broadcast_under_schema_evolution(spark, evolution):
    history = spark.createDataFrame(HISTORY, SCHEMA)
    batch = spark.createDataFrame(BATCH, SCHEMA)
    if evolution == "add":
        batch = batch.withColumn("tier", batch["amount"] % 3)
    else:  # the target keeps `amount`; the batch drops it
        batch = batch.drop("amount")
    cfg = ScdConfig(unique_key=("k1", "k2"), **LIFECYCLE["set"])
    _assert_chain_equals_merge_source(
        spark, cfg, _target(spark, cfg, history), batch, n_buckets=3
    )


def test_bucketed_commit_merges_bucket_local(spark, tmp_path):
    """A bucketed commit through the stock merge plans one shuffle on the
    bucket, writes one file per rewritten bucket, and equals the vanilla
    sink's table.  The merge registers no artifact in the write's scope."""
    cfg = ScdConfig(unique_key=("customer_id",), deleted_at_column="deleted_at")
    results, registered = [], []

    def merge(target, batch, c):
        write_scope = caching._scopes()[-1]
        before = len(write_scope)
        out = scd2_incremental(target, batch, c)
        registered.append(len(write_scope) - before)
        # Plan while the batch is still cached (build() releases it).
        out._jdf.queryExecution().executedPlan()
        results.append(out)
        return out

    t = ScdTable(spark, str(tmp_path / "b"), cfg, partition_buckets=4,
                 merge_fn=merge)
    v = ScdTable(spark, str(tmp_path / "v"), cfg)
    for i in (1, 2, 3):
        b = spark.createDataFrame(CUSTOMERS_RAW[i], CUSTOMERS_SCHEMA)
        out = t.build(b)
        expected = v.build(b)
    assert len(results) == 2 and registered == [0, 0]
    for r in results:
        assert_bucket_local_plan(r)
    assert out.exceptAll(expected).count() == 0
    assert expected.exceptAll(out).count() == 0
    m = t._read_manifest()
    assert all(len(e["paths"]) == 1 for e in m["buckets"].values())
    assert BUCKET_COL not in m["schema"]
