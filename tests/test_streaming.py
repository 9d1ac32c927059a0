"""Structured Streaming SCD2 sink: micro-batch stream ≡ batch semantics."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dbt_scd2_utils_spark import ScdConfig, scd2_initial_load
from dbt_scd2_utils_spark.streaming.scd2_stream import (
    Scd2ParquetSink,
    scd2_write_stream,
)
from tests.fixtures.seeds import CUSTOMERS_RAW, CUSTOMERS_SCHEMA

CFG = ScdConfig(unique_key=("customer_id",), deleted_at_column="deleted_at")


def test_stream_equals_batch(spark, tmp_path):
    """Feed the customers_raw batches through a file stream with the
    foreachBatch SCD2 sink; the final table must equal the batch-path
    full refresh over the union."""
    src_dir = str(tmp_path / "stream_src")
    target = str(tmp_path / "scd2_target")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    batches = []
    for i in (1, 2, 3):
        df = spark.createDataFrame(CUSTOMERS_RAW[i], CUSTOMERS_SCHEMA)
        batches.append(df)
        df.coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema(batches[0].schema).parquet(src_dir)
    q = scd2_write_stream(stream, target, CFG, checkpoint=ckpt, available_now=True)
    assert q.awaitTermination(120), "stream did not drain in time"

    sink = Scd2ParquetSink(spark, target, CFG)
    got = sink.read()

    full_input = batches[0].unionByName(batches[1]).unionByName(batches[2])
    want = scd2_initial_load(full_input, CFG)

    # Stream arrival order is nondeterministic across files, but with
    # collapse_redundant_versions the result is order-independent (the
    # full-refresh equivalence claim) — compare as sets.
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.filter(F.col("_is_current")).count() == got.select("customer_id").distinct().count()


def test_sink_initial_then_incremental(spark, tmp_path):
    target = str(tmp_path / "t2")
    sink = Scd2ParquetSink(spark, target, CFG)
    b1 = spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA)
    sink.apply_batch(b1)
    n1 = sink.read().count()
    assert n1 > 0
    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    sink.apply_batch(b2)
    assert sink.read().count() > n1
    # empty batch is a no-op
    sink.apply_batch(b2.filter(F.lit(False)))
    assert sink.read().count() > n1


def test_bucketed_stream_equals_batch_and_replay_is_exactly_once(spark, tmp_path):
    """The bucketed generational sink drains a multi-micro-batch stream to
    the same table as the batch path, and a replayed foreachBatch epoch
    (failure-recovery re-delivery of the same batch_id) is detected
    against the committed manifest and skipped — exactly-once effects."""
    from dbt_scd2_utils_spark.streaming.scd2_stream import (
        Scd2BucketedSink,
        scd2_write_stream_bucketed,
    )

    src_dir = str(tmp_path / "bsrc")
    target = str(tmp_path / "btarget")
    ckpt = str(tmp_path / "bckpt")
    os.makedirs(src_dir)
    batches = []
    for i in (1, 2, 3):
        df = spark.createDataFrame(CUSTOMERS_RAW[i], CUSTOMERS_SCHEMA)
        batches.append(df)
        df.coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(src_dir)
    )
    q = scd2_write_stream_bucketed(
        stream, target, CFG, partition_buckets=8,
        checkpoint=ckpt, available_now=True,
    )
    assert q.awaitTermination(120), "stream did not drain in time"

    sink = Scd2BucketedSink(spark, target, CFG, partition_buckets=8)
    got = sink.read()
    want = scd2_initial_load(
        batches[0].unionByName(batches[1]).unionByName(batches[2]), CFG
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # Replay: re-deliver an already-committed epoch (same batch_id) with
    # DIFFERENT rows — it must be skipped outright (gen unchanged), not
    # merged twice or merged at all.
    manifest_before = sink.table._read_manifest()
    last = manifest_before["txn"]["default"]
    replay = spark.createDataFrame(CUSTOMERS_RAW[4], CUSTOMERS_SCHEMA)
    sink.foreach_batch(replay, last)          # replayed epoch: skipped
    m_after = sink.table._read_manifest()
    assert m_after["gen"] == manifest_before["gen"]
    assert (
        sink.read().exceptAll(want).count() == 0
        and want.exceptAll(sink.read()).count() == 0
    )
    # The NEXT epoch applies normally.
    sink.foreach_batch(replay, last + 1)
    assert sink.table._read_manifest()["gen"] == manifest_before["gen"] + 1
    assert sink.table._read_manifest()["txn"]["default"] == last + 1

    # Epoch scope (Delta txnAppId): a SECOND writer app starting at epoch 0
    # (fresh checkpoint) must NOT be shadowed by the first app's counter.
    from dbt_scd2_utils_spark.streaming.scd2_stream import Scd2BucketedSink as _S

    sink2 = _S(spark, target, CFG, partition_buckets=8, txn_app="appB")
    gen_before = sink2.table._read_manifest()["gen"]
    sink2.foreach_batch(
        spark.createDataFrame(CUSTOMERS_RAW[5], CUSTOMERS_SCHEMA), 0
    )
    m = sink2.table._read_manifest()
    assert m["gen"] == gen_before + 1, "appB epoch 0 must apply, not be skipped"
    assert m["txn"]["appB"] == 0 and m["txn"]["default"] == last + 1


def test_bucketed_sink_retries_lost_commit_race(spark, tmp_path, monkeypatch):
    """A micro-batch that loses the commit race must be RETRIED inside
    foreach_batch (a conflict means another writer committed — progress —
    and the epoch gate keeps the retry exactly-once), not kill the
    stream; a persistent storm still surfaces after the bound."""
    import pytest as _pytest

    from dbt_scd2_utils_spark.plans.build import (
        ConcurrentWriteError,
        ScdTable as _ScdTable,
    )
    from dbt_scd2_utils_spark.streaming.scd2_stream import Scd2BucketedSink

    target = str(tmp_path / "retry_sink")
    sink = Scd2BucketedSink(spark, target, CFG, partition_buckets=4)
    sink.foreach_batch(
        spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA), 0
    )

    real_commit = _ScdTable._commit_transaction
    losses = {"left": 2, "seen": 0}

    def flaky_commit(self, stage_dir, gen_dir, base_gen, manifest):
        if losses["left"]:
            losses["left"] -= 1
            losses["seen"] += 1
            import shutil as _sh

            _sh.rmtree(stage_dir, ignore_errors=True)
            raise ConcurrentWriteError("injected: lost the race")
        return real_commit(self, stage_dir, gen_dir, base_gen, manifest)

    # Pin the backoff between retries (ADVICE r12): each lost race must
    # sleep a bounded, growing, jittered delay before re-merging, or two
    # symmetric streams burn the whole retry budget in one burst.
    backoffs: list[int] = []
    monkeypatch.setattr(
        Scd2BucketedSink, "_backoff",
        staticmethod(lambda attempt: backoffs.append(attempt)),
    )
    monkeypatch.setattr(_ScdTable, "_commit_transaction", flaky_commit)
    sink.foreach_batch(
        spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA), 1
    )
    monkeypatch.undo()
    assert losses["seen"] == 2, "both injected conflicts must be retried"
    assert backoffs == [0, 1], "a growing backoff precedes every retry"
    want = scd2_initial_load(
        spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA).unionByName(
            spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
        ),
        CFG,
    )
    got = sink.read()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert sink.table._read_manifest()["txn"]["default"] == 1

    # Persistent storm: the bound surfaces the failure instead of looping.
    monkeypatch.setattr(
        _ScdTable,
        "_commit_transaction",
        lambda self, s, g, b, m: (_ for _ in ()).throw(
            ConcurrentWriteError("storm")
        ),
    )
    with _pytest.raises(ConcurrentWriteError):
        sink.foreach_batch(
            spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA), 2
        )
