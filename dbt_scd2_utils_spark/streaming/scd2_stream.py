"""Structured Streaming surface: SCD micro-batch sinks via foreachBatch.

The reference is batch/micro-batch only (SURVEY.md §2.9): each dbt run
processes one batch, and "late data" is reconciled logically.  The exact
Spark equivalent is ``foreachBatch`` — each micro-batch flows through the
SAME ``scd2_incremental`` plan the batch path uses, so streaming and batch
semantics are identical by construction (no separate state-store logic to
keep in sync).

Both sinks write through ``plans/build.py::ScdTable``: the vanilla one
keeps the target as parquet with an atomic directory swap (write to
``__tmp`` → rename), mirroring the vanilla-merge durability story
(SURVEY.md §7.3 item 5); the bucketed one commits generations.  Each
micro-batch's merge intermediates are released at its commit, so a
long-running stream holds none of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.config import ScdConfig


class Scd2ParquetSink:
    """Micro-batch SCD2 sink over a parquet directory target: an
    unbucketed ``ScdTable``."""

    def __init__(self, spark: SparkSession, path: str, cfg: ScdConfig):
        from ..plans.build import ScdTable

        self.table = ScdTable(spark, path, cfg)

    def exists(self) -> bool:
        return self.table.exists()

    def read(self) -> DataFrame:
        return self.table.read()

    def apply_batch(self, batch: DataFrame) -> None:
        """Initial load on first batch, incremental merge afterwards, with
        an atomic tmp-dir swap so readers never see a half-written table."""
        if batch.isEmpty():
            return
        self.table.build(batch)

    def foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.apply_batch(batch)


def scd2_write_stream(
    stream: DataFrame,
    path: str,
    cfg: ScdConfig,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Attach an SCD2 foreachBatch sink to a streaming DataFrame.

    ``available_now=True`` drains everything currently available then stops
    (the batch-parity mode); pass False for a continuous micro-batch query.
    """
    sink = Scd2ParquetSink(stream.sparkSession, path, cfg)
    writer = stream.writeStream.foreachBatch(sink.foreach_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class Scd2BucketedSink:
    """Micro-batch SCD2 sink over a BUCKETED generational ``ScdTable`` —
    the 100-TB streaming write path: each micro-batch merges and rewrites
    only the bucket partitions its keys touch (O(batch), not O(table)),
    commits through the atomic manifest replace, and passes the epoch id
    as ``txn_epoch`` so a foreachBatch replay after a failure is detected
    against the committed manifest and skipped — exactly-once merge
    effects without a state store (Delta's txnAppId/txnVersion idempotent
    writes, re-expressed on the parquet+manifest sink;
    ``plans/build.py::ScdTable.build``)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        cfg: ScdConfig,
        partition_buckets: int,
        retain_generations: int | None = None,
        txn_app: str = "default",
        merge_fn=None,
    ):
        from ..plans.build import ScdTable

        self.table = ScdTable(
            spark, path, cfg,
            partition_buckets=partition_buckets,
            retain_generations=retain_generations,
            merge_fn=merge_fn,
        )
        # Epoch scope (Delta txnAppId): restarting this stream from a FRESH
        # checkpoint resets batch ids to 0, so such a restart must use a
        # new txn_app or its batches would be skipped as replays.
        self.txn_app = txn_app

    # Bounded retries on a lost commit race: a conflict means ANOTHER
    # writer committed (global progress), the re-merge plans against the
    # refreshed table, and the epoch gate keeps the retry exactly-once —
    # so retrying here is always safe and killing the stream over a
    # benign race would be wrong (Delta's commit loop retries the same
    # way).  The bound keeps a pathological storm from hiding forever.
    CONFLICT_RETRIES = 5

    def read(self) -> DataFrame:
        return self.table.read()

    @staticmethod
    def _backoff(attempt: int) -> None:
        """Jittered exponential backoff (~25ms..500ms) between conflict
        retries: two symmetric streams colliding on one table would
        otherwise burn every retry back-to-back inside a single
        contention burst and kill a stream over the benign race the
        bound exists to survive; the jitter desynchronizes the pair so
        one of them wins each round (ADVICE r12)."""
        import random
        import time

        time.sleep(min(0.5, 0.05 * (2 ** attempt) * random.uniform(0.5, 1.5)))

    def foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        from ..plans.build import ConcurrentWriteError

        for attempt in range(self.CONFLICT_RETRIES + 1):
            try:
                self.table.build(
                    batch, txn_epoch=batch_id, txn_app=self.txn_app
                )
                return
            except ConcurrentWriteError:
                if attempt == self.CONFLICT_RETRIES:
                    raise
                self._backoff(attempt)


def scd2_write_stream_bucketed(
    stream: DataFrame,
    path: str,
    cfg: ScdConfig,
    partition_buckets: int,
    checkpoint: str | None = None,
    available_now: bool = True,
    retain_generations: int | None = None,
    txn_app: str = "default",
    merge_fn=None,
) -> StreamingQuery:
    """Attach an exactly-once bucketed SCD2 foreachBatch sink (see
    :class:`Scd2BucketedSink`) to a streaming DataFrame.  ``txn_app``
    scopes the epoch record — use a fresh value when restarting from a
    new checkpoint; ``retain_generations`` sets the table's snapshot-
    retention property; ``merge_fn`` swaps the SCD2 merge strategy
    (e.g. the salted hot-key chain — see ``ScdTable``)."""
    sink = Scd2BucketedSink(
        stream.sparkSession, path, cfg, partition_buckets=partition_buckets,
        retain_generations=retain_generations, txn_app=txn_app,
        merge_fn=merge_fn,
    )
    writer = stream.writeStream.foreachBatch(sink.foreach_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
