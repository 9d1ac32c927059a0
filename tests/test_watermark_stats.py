"""Zero-job high-water mark: a bucketed ScdTable records each bucket's
timestamp-column maxima from the parquet footers its commits already read,
its full reads carry the table-level maxima, and ``high_water_mark``
answers from them without a Spark job — equal to the aggregate it
replaces.  Every frame the maxima cannot vouch for falls back to the
aggregate."""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql import functions as F

from dbt_scd2_utils_spark import ScdConfig
from dbt_scd2_utils_spark.plans.build import ScdTable
from dbt_scd2_utils_spark.sources.incremental import (
    high_water_mark,
    incremental_source,
)

CFG = ScdConfig(unique_key=("id",))
SCHEMA = (
    "id int, name string, _loaded_at timestamp, _updated_at timestamp, "
    "never_set timestamp, local_ts timestamp_ntz"
)
FLOOR = datetime(1900, 1, 1)


def _batch(spark, ids, day, name="v"):
    return spark.createDataFrame(
        [
            (i, f"{name}{i}", datetime(2024, 1, day, 12, 0, 0, i),
             datetime(2024, 1, day), None, datetime(2030, 6, day, 1, 2, 3, 4 + i))
            for i in ids
        ],
        SCHEMA,
    )


@contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs submitted inside the block."""
    sc = spark.sparkContext
    group = f"hwm-{os.urandom(4).hex()}"
    found: list = []
    sc.setJobGroup(group, "high_water_mark")
    try:
        yield found
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        found.extend(sc.statusTracker().getJobIdsForGroup(group))


def _scan(df, col="_loaded_at"):
    v = df.agg(F.max(col)).first()[0]
    return FLOOR if v is None else v


def _assert_zero_job(spark, df, col="_loaded_at"):
    with _jobs(spark) as jobs:
        hwm = high_water_mark(df, col)
    assert jobs == [], f"{col}: expected no job, got {jobs}"
    assert hwm == _scan(df, col)
    return hwm


def _assert_falls_back(spark, df, want, col="_loaded_at"):
    with _jobs(spark) as jobs:
        hwm = high_water_mark(df, col)
    assert jobs, f"{col}: expected the aggregate to run"
    assert hwm == want


def _table(spark, tmp_path, name="t", buckets=4):
    t = ScdTable(spark, str(tmp_path / name), CFG, partition_buckets=buckets)
    t.build(_batch(spark, range(20), 1))
    return t


def _rewrite_manifest(t, edit):
    m = t._read_manifest()
    edit(m)
    with open(t._manifest_path(), "w") as f:
        json.dump(m, f)


def test_zero_job_watermark_after_every_commit_kind(spark, tmp_path):
    """The initial build, a merge, a rebucket and a restore each leave
    manifest entries with footer maxima, so the watermark over ``read()``
    submits no job and equals the aggregate; ``incremental_source`` over
    the same read filters by it."""
    t = _table(spark, tmp_path)
    assert all(e["max"] is not None for e in t._read_manifest()["buckets"].values())
    assert _assert_zero_job(spark, t.read()) == datetime(2024, 1, 1, 12, 0, 0, 19)
    t.build(_batch(spark, [3, 30], 2, "w"))  # gen 1: merge
    assert _assert_zero_job(spark, t.read()) == datetime(2024, 1, 2, 12, 0, 0, 30)
    t.rebucket(3)  # gen 2
    _assert_zero_job(spark, t.read())
    t.restore(0)  # gen 3: back to the initial build's files
    assert _assert_zero_job(spark, t.read()) == datetime(2024, 1, 1, 12, 0, 0, 19)
    with _jobs(spark) as jobs:
        src = incremental_source(
            _batch(spark, [1, 2], 3), t.read(), loaded_at_col="_loaded_at"
        )
    assert jobs == [] and src.count() == 2


def test_read_at_gen_carries_that_generations_maxima(spark, tmp_path):
    """Time travel carries the maxima of the generation it serves; so does
    ``read_at_timestamp``, which resolves to a generation."""
    t = _table(spark, tmp_path)
    t.build(_batch(spark, [5], 7))
    old = t.read_at_gen(0)
    assert old._scd_column_max["_loaded_at"] != t.read()._scd_column_max["_loaded_at"]
    assert _assert_zero_job(spark, old) == datetime(2024, 1, 1, 12, 0, 0, 19)
    committed = t._manifest_at(0)["committed_at"]
    assert _assert_zero_job(spark, t.read_at_timestamp(committed)) == (
        datetime(2024, 1, 1, 12, 0, 0, 19)
    )
    assert _assert_zero_job(spark, t.read()) == datetime(2024, 1, 7, 12, 0, 0, 5)


def test_watermark_falls_back_to_the_aggregate(spark, tmp_path):
    """A transformed frame, a stale manifest, an entry without ``max`` and
    a bucket whose ``max`` is unknown all run the aggregate, with the
    same value."""
    t = _table(spark, tmp_path)
    want = _scan(t.read())
    _assert_falls_back(spark, t.read().filter(F.col("id") >= 0), want)

    b = next(iter(t._read_manifest()["buckets"]))
    _rewrite_manifest(t, lambda m: m["buckets"][b].pop("max"))
    assert not hasattr(t.read(), "_scd_column_max")
    _assert_falls_back(spark, t.read(), want)

    _rewrite_manifest(t, lambda m: m["buckets"][b].update(max=None))
    _assert_falls_back(spark, t.read(), want)

    # Stale: an entry naming a file that is gone makes the read re-list
    # the bucket directory, and the recorded facts no longer hold.
    t2 = _table(spark, tmp_path, "stale")
    want2 = _scan(t2.read())
    b2 = next(iter(t2._read_manifest()["buckets"]))
    _rewrite_manifest(
        t2,
        lambda m: m["buckets"][b2]["paths"].append(f"_scd_bucket={b2}/gone.parquet"),
    )
    stale = t2.read()
    assert not hasattr(stale, "_scd_column_max")
    _assert_falls_back(spark, stale, want2)


def test_legacy_rebased_files_fall_back(spark, tmp_path):
    """Under the LEGACY datetime rebase mode Spark stores Julian-rebased
    values, so a footer maximum is not the value a read returns: such a
    bucket's ``max`` is unknown and the aggregate runs."""
    conf = "spark.sql.parquet.datetimeRebaseModeInWrite"
    old = spark.createDataFrame(
        [(1, "x", datetime(1000, 1, 1), datetime(2024, 1, 1), None,
          datetime(2030, 1, 1))],
        SCHEMA,
    )
    t = ScdTable(spark, str(tmp_path / "legacy"), CFG, partition_buckets=2)
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "LEGACY")
    try:
        t.build(old)
    finally:
        spark.conf.set(conf, prior)
    assert [e["max"] for e in t._read_manifest()["buckets"].values()] == [None]
    _assert_falls_back(spark, t.read(), datetime(1000, 1, 1))


def test_null_only_column_gives_the_floor(spark, tmp_path):
    t = _table(spark, tmp_path)
    assert t.read()._scd_column_max["never_set"] is None
    with _jobs(spark) as jobs:
        assert high_water_mark(t.read(), "never_set") == FLOOR
    assert jobs == []


def test_timestamp_ntz_column_round_trips(spark, tmp_path):
    """A TimestampNTZ column converts through its own type: the value is
    the aggregate's, wall-clock exact to the microsecond."""
    t = _table(spark, tmp_path)
    assert _assert_zero_job(spark, t.read(), "local_ts") == datetime(
        2030, 6, 1, 1, 2, 3, 23
    )


def _fingerprint(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _views(t, gens):
    """Fingerprints of the current read and of each generation's
    ``read_at_gen`` and ``read_at_timestamp``."""
    return (
        _fingerprint(t.read()),
        [_fingerprint(t.read_at_gen(g)) for g in gens],
        [_fingerprint(t.read_at_timestamp(t._manifest_at(g)["committed_at"]))
         for g in gens],
    )


def test_mixed_int96_and_int64_generations(spark, tmp_path):
    """A table built with INT96 timestamps (no statistics) and then merged
    under the INT64 default reads and time-travels the same as an
    all-default table; the watermark falls back while any live bucket is
    INT96, and a rebucket that rewrites every bucket makes it zero-job."""
    conf = "spark.sql.parquet.outputTimestampType"
    first, second = _batch(spark, range(20), 1), _batch(spark, [3, 30], 2, "w")
    ref = ScdTable(spark, str(tmp_path / "ref"), CFG, partition_buckets=4)
    ref.build(first)
    ref.build(second)

    t = ScdTable(spark, str(tmp_path / "mixed"), CFG, partition_buckets=4)
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "INT96")
    try:
        t.build(first)
    finally:
        spark.conf.set(conf, prior)
    t.build(second)  # rewrites only the buckets of ids 3 and 30
    entries = t._read_manifest()["buckets"].values()
    assert {e["max"] is None for e in entries} == {True, False}
    assert _views(t, (0, 1)) == _views(ref, (0, 1))
    _assert_falls_back(spark, t.read(), _scan(ref.read()))

    t.rebucket(2)
    assert _assert_zero_job(spark, t.read()) == _scan(ref.read())
    assert _fingerprint(t.read()) == _fingerprint(ref.read())
