"""Build orchestration: the engine's equivalent of the dbt materialization.

Mirrors the reference lifecycle (``materialization_scd.sql:19-38`` +
``scd_plan.sql:24-287``, SURVEY.md §3.1):

1. resolve + validate config (``ScdConfig`` — same errors/warnings);
2. evaluate the model DataFrame once (a ``barrier`` ≡ the CTAS temp table,
   ``create_temp_table_as.sql:6-12``) and introspect ``df.schema``
   (≡ ``adapter.get_columns_in_relation``, no extra round trip in Spark);
3. decide initial vs incremental: ``full_refresh or target missing``
   (``scd_plan.sql:104``, ``is_incremental.sql:18-28``);
4. branch by scd_type 0/1/2 to the operator;
5. write atomically (tmp dir + rename — the vanilla-merge durability story,
   SURVEY.md §7.3 item 5).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.caching import barrier, scope
from ..operators.scd01 import (
    scd0_incremental,
    scd0_initial_load,
    scd1_incremental,
    scd1_initial_load,
)
from ..operators.scd2 import BUCKET_COL, scd2_incremental, scd2_initial_load
from .config import ScdConfig


# Generation directories hold each bucketed merge's rewritten bucket files
# (immutable once written; underscore prefix keeps them invisible to Spark's
# partition discovery until the manifest references them).
GEN_PREFIX = "_gen-"
# Writer-private staging directories (see the optimistic-concurrency note on
# ScdTable): each merge stages into a UNIQUE `_stage-<uuid>/` and only the
# commit-time rename claims the generation number, so concurrent writers can
# never scribble into each other's generation dir.
STAGE_PREFIX = "_stage-"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this commit's plan and its own
    commit (optimistic concurrency, Delta/Iceberg's protocol in miniature):
    the transaction aborted cleanly — no visible state changed, the staged
    files were removed — and the caller should re-run the merge against the
    refreshed table (a foreachBatch retry does this naturally; the epoch
    gate keeps the retry exactly-once)."""


MANIFEST = "_scd_manifest.json"
META = "_scd_meta.json"


def _gen_dirname(gen: int) -> str:
    return f"{GEN_PREFIX}{gen:08d}"


def _gen_of(name: str) -> int | None:
    """Generation number of a ``_gen-<G>`` directory name, else None."""
    if name.startswith(GEN_PREFIX):
        try:
            return int(name[len(GEN_PREFIX):])
        except ValueError:
            pass
    return None


def _snapshot_name(gen: int) -> str:
    return f"_scd_manifest.{gen:08d}.json"


def _dump_json(path: str, obj) -> None:
    """Write a JSON file atomically (tmp + ``os.replace``): a reader sees
    the old content or the new one, never a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _file_maxima(md) -> dict | None:
    """{column: max epoch micros, None when null in every row} over the
    top-level INT64 microsecond timestamp columns of one parquet file's
    footer (``md``: pyarrow ``FileMetaData``), taken over every row group.
    None (unknown) when the file has an INT96 column (no statistics), a
    timestamp of another unit, or a row group holding non-null values
    without statistics, and when Spark wrote it under the LEGACY datetime
    rebase mode (its stored values are Julian-rebased, so the raw maxima
    are not the values a read returns).  Nested timestamp columns are left
    out."""
    if b"org.apache.spark.legacyDateTime" in (md.metadata or {}):
        return None
    out: dict = {}
    for i in range(md.num_columns):
        col = md.schema.column(i)
        if col.physical_type == "INT96":
            return None
        if col.logical_type.type != "TIMESTAMP" or "." in col.path:
            continue
        if json.loads(col.logical_type.to_json()).get("timeUnit") != "microseconds":
            return None
        best = None
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            st = rg.column(i).statistics
            if st is not None and st.has_min_max:
                best = st.max_raw if best is None else max(best, st.max_raw)
            elif rg.num_rows and not (
                st is not None and st.has_null_count and st.null_count == rg.num_rows
            ):
                return None
        out[col.path] = best
    return out


def _merge_maxima(into: dict, other: dict) -> None:
    """Fold ``other``'s column maxima into ``into`` (None = all null)."""
    for c, v in other.items():
        if v is not None and (into.get(c) is None or v > into[c]):
            into[c] = v
        else:
            into.setdefault(c, None)


def _write_op(method):
    """Run an ``ScdTable`` write inside one artifact scope, then return the
    post-write table.  Everything the write registered — the batch
    barrier, the merge's persisted and checkpointed intermediates — is
    freed when it commits or aborts (a ``ConcurrentWriteError`` retry must
    not leak one dead set per attempt), and BEFORE ``refreshByPath``:
    their plans read files the commit displaced, and a refresh would
    re-cache them.  The write has materialized them, and the caller gets a
    fresh read, so nothing runs on them again."""

    @functools.wraps(method)
    def run(self, *args, **kwargs):
        with scope():
            method(self, *args, **kwargs)
        self.spark.catalog.refreshByPath(self.path)
        return self.read()

    return run


class ScdTable:
    """An SCD-materialized table over a parquet directory.

    At cluster scale the same orchestration targets a catalog table
    (``saveAsTable``) or Delta; the parquet-directory sink stays
    dependency-free.  Initial builds and full refreshes replace the whole
    table directory atomically (``_atomic_write``: tmp write + rename).

    ``partition_buckets=N`` is the 100-TB write path: the table is
    partitioned by a stable hash bucket of the business key, and an
    incremental run merges + rewrites ONLY the bucket partitions the batch's
    keys touch — write amplification drops from O(table) to O(affected
    buckets), and the unaffected partitions are never read either.  Every
    write to a bucketed table after its creation (merge, ``delete_keys``,
    ``rebucket``, ``restore``) is one generational commit through
    ``_open_manifest`` + ``_transact``: the rewritten buckets land in a new
    immutable ``_gen-<G>/`` directory and the commit atomically replaces
    the manifest under optimistic concurrency (see the manifest note
    below).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        cfg: ScdConfig,
        partition_buckets: int | None = None,
        retain_generations: int | None = None,
        merge_fn=None,
    ):
        self.spark = spark
        self.path = path
        self.cfg = cfg.validate()
        self.partition_buckets = partition_buckets
        # Distinguishes a count the CALLER chose from one adopted off the
        # table property: only an explicit count may conflict with the
        # recorded one (an adopted count re-adopts after an external
        # rebucket instead of hard-failing a long-lived default handle).
        self._explicit_buckets = partition_buckets is not None
        if retain_generations is not None and retain_generations < 1:
            raise ValueError("retain_generations must be >= 1")
        # Snapshot-isolation window: files displaced by a merge stay on disk
        # until `retain_generations` FURTHER commits have happened, so a
        # DataFrame planned against any of the last `retain_generations`
        # manifests never races a deletion (see the manifest note below).
        # Retention is a TABLE property (recorded in the manifest, the way
        # Delta stores it in table properties), NOT a per-writer setting:
        # None (the default) honors whatever the table records, so a
        # default-constructed job can never vacuum underneath a reader
        # that opened the table with a longer window; an explicit value
        # updates the recorded property at this writer's next commit.
        self.retain_generations = retain_generations
        # The SCD2 incremental merge strategy -- ``(target, batch, cfg) ->
        # DataFrame``, default :func:`scd2_incremental`.  The composition
        # seam for the OTHER 100-TB feature: pass
        # ``functools.partial(scd2_incremental_salted, salts=...,
        # hot_key_threshold=...)`` to route hot keys inside a bucket
        # through the salted window chain (a single >=10M-version key
        # otherwise concentrates the whole per-key window stage in one
        # task regardless of bucketing -- bucketing shards TABLES,
        # salting shards KEYS).  Applies to scd_type 2 incremental
        # merges on both sinks; initial loads and SCD0/1 are unaffected.
        self.merge_fn = merge_fn if merge_fn is not None else scd2_incremental
        # Driver-side phase timings of the last incremental merge (e.g.
        # "list_affected"), for scale instrumentation (scripts/scale_proof).
        self.last_phase_times: dict[str, float] = {}

    DEFAULT_RETAIN = 2

    def _adopt_bucket_count(
        self, manifest: dict | None, relayout_ok: bool = False
    ) -> int | None:
        """Resolve the table's bucket count — a TABLE property like
        retention, recorded as ``bucket_count`` in the manifest.  The
        bucket mapping is part of the DATA layout: a writer merging under
        a different modulus looks for keys in buckets they never lived in
        and silently forks duplicate histories, so an EXPLICIT mismatch is
        an error (``rebucket()`` changes the layout in place; a FULL
        REFRESH — ``relayout_ok`` — rewrites every row and may pick any
        count).  A handle without an explicit count adopts (and re-adopts,
        after an external rebucket) the recorded one instead of falling
        back to the unbucketed path, which would also make a default
        reader miss every generational bucket dir."""
        rec = (manifest or {}).get("bucket_count")
        if self._explicit_buckets:
            if (
                isinstance(rec, int)
                and rec != self.partition_buckets
                and not relayout_ok
            ):
                raise ValueError(
                    f"table at {self.path} is bucketed with "
                    f"bucket_count={rec}, but this writer was constructed "
                    f"with partition_buckets={self.partition_buckets}; "
                    "merging under a different bucket mapping would "
                    "mis-route keys — use rebucket() (or a full refresh) "
                    "to change the layout"
                )
            return self.partition_buckets
        if isinstance(rec, int):
            self.partition_buckets = rec
        return self.partition_buckets

    def _retain(self, manifest: dict | None) -> int:
        """Effective retention: explicit constructor value first (it will
        be recorded at the next commit), else the table's recorded
        property, else the default."""
        if self.retain_generations is not None:
            return self.retain_generations
        rec = (manifest or {}).get("retain")
        return rec if isinstance(rec, int) and rec >= 1 else self.DEFAULT_RETAIN

    # -- state ----------------------------------------------------------

    MATERIALIZATION = "scd"

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS"))

    def _meta_path(self) -> str:
        return os.path.join(self.path, META)

    # -- partition manifest ----------------------------------------------
    #
    # The in-repo stand-in for a table format's commit log (Delta/Iceberg,
    # which this environment cannot install): a tiny JSON file mapping
    # bucket id -> {files, rows, max} plus the on-disk data schema, rewritten
    # ATOMICALLY (tmp + os.replace) at every swap.  Without it, an
    # incremental merge's target-slice read (`spark.read.parquet(table)`)
    # pays a full InMemoryFileIndex listing of EVERY bucket partition —
    # with fixed ~50k-row buckets that listing grows O(table size) while
    # the data work is O(affected buckets), and at 100 TB the metadata
    # term dominates the merge (measured at s40: ~2.3 s of a ~11 s merge,
    # growing).  With the manifest, a merge resolves its affected buckets'
    # file paths with one driver-side JSON read — O(batch), not O(table).
    #
    # Crash safety: the manifest is advisory, never authoritative.  Every
    # read verifies the listed files still exist; a bucket whose entry is
    # stale (crash between partition swap and manifest write) or missing
    # falls back to an os.listdir of THAT bucket directory only — still
    # O(affected).  A wrong manifest can therefore cost a re-list, never
    # wrong data.
    #
    # SNAPSHOT ISOLATION (r11): the manifest is now a versioned commit log
    # in miniature, the same shape Delta/Iceberg use (immutable data files
    # + an atomically-replaced pointer):
    #
    #   { "gen": G,                      -- monotonically increasing commit id
    #     "schema": <json>,
    #     "buckets": { "<b>": {"paths": [<root-relative paths>], "rows": n,
    #                          "max": {<timestamp column>: <epoch micros>}} },
    #     "superseded": { "<S>": [<paths displaced by commit S>] } }
    #
    # ``rows`` and ``max`` come from the footers of the bucket's files
    # (``_scan_bucket_dir``); ``rows: -1`` and ``max: null`` mean unknown
    # (an unreadable footer; for ``max`` also an INT96 timestamp column,
    # which has no statistics, or a LEGACY-rebased file), and a ``max`` value is null for a column
    # null in every row.  Both are optional: an older entry without them
    # counts as unknown.  ``rows`` bounds the merge's target slice
    # (``_slice_row_bound``); ``max`` travels on full reads as
    # ``_scd_column_max`` and answers ``high_water_mark`` without a job.
    #
    # A merge never mutates or deletes a live file: it writes its rewritten
    # buckets into a fresh immutable `_gen-<G>/` directory (invisible to
    # readers until committed), then commits by atomically replacing the
    # manifest.  A reader therefore serves a CONSISTENT SNAPSHOT from
    # whichever manifest it loaded — a concurrent merge can no longer pull
    # files out from under a planned query, which the old in-place partition
    # swap did.  Files displaced by commit S (last referenced by manifest
    # S-1) go on the `superseded` ledger and are vacuumed only once
    # `retain_generations` further commits have happened (S <= G - retain),
    # so any snapshot stays readable across at least `retain_generations`
    # subsequent merges; vacuum work is O(files displaced then), never
    # O(table).  A crash after the gen-dir write but before the manifest
    # commit leaves an invisible orphan `_gen-*` directory (gen > committed
    # gen) that the next merge sweeps.  Legacy pre-generation manifests
    # ({"files": [names]} entries, no "gen") keep the old verify-and-relist
    # read path and are migrated in place by their next merge.
    #
    # Full refresh/initial builds still swap the whole table directory
    # (`_atomic_write`) — snapshot isolation covers the incremental merge
    # path, where the race was real; a full refresh replaces the table
    # wholesale, same as the reference's table materialization.

    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def _snapshot_manifest_path(self, gen: int) -> str:
        """Per-generation manifest snapshot (`_scd_manifest.<gen>.json`) —
        the commit log's history, enabling time-travel reads
        (``read(at_gen=...)``) to any generation still inside the vacuum
        retention window.  Same lifecycle as the data files: kept for
        gens in [current - retain_generations, current], removed after."""
        return os.path.join(self.path, _snapshot_name(gen))

    def _snapshots(self) -> list[tuple[int, str]]:
        """(gen, path) of every ``_scd_manifest.<gen>.json`` snapshot file
        in the table dir — one listing."""
        try:
            names = os.listdir(self.path)
        except OSError:
            return []
        head, tail = "_scd_manifest.", ".json"
        return [
            (int(n[len(head):-len(tail)]), os.path.join(self.path, n))
            for n in names
            if n.startswith(head)
            and n.endswith(tail)
            and n[len(head):-len(tail)].isdigit()
        ]

    def _expire_snapshots(self, oldest: int) -> None:
        """Remove the snapshots of generations below ``oldest``: their
        referenced files are (or are about to be) vacuumed, so serving them
        would be a lie.  O(retained snapshots), tiny files."""
        for g, p in self._snapshots():
            if g < oldest:
                try:
                    os.remove(p)
                except OSError:
                    pass

    def _write_snapshot_manifest(self, manifest: dict) -> None:
        gen = manifest.get("gen", 0)
        _dump_json(self._snapshot_manifest_path(gen), manifest)
        self._expire_snapshots(gen - self._retain(manifest))

    def _retained_manifests(self) -> dict[int, dict]:
        """gen -> manifest for every RETAINED generation: the per-gen
        snapshot files plus the current manifest (which always serves its
        own generation even if its snapshot copy is missing).  Driver-local
        JSON reads, O(retained); unreadable/malformed files are skipped.
        The single source of truth for which generations time travel can
        serve — ``history()`` and ``read_at_timestamp()`` both resolve
        through it."""
        out: dict[int, dict] = {}
        for _g, p in self._snapshots():
            try:
                with open(p) as f:
                    m = json.load(f)
            except (OSError, ValueError):
                continue
            if isinstance(m.get("gen"), int) and m["gen"] not in out:
                out[m["gen"]] = m
        current = self._read_manifest()
        if current is not None and isinstance(current.get("gen"), int):
            out.setdefault(current["gen"], current)
        return out

    def history(self) -> DataFrame:
        """Commit history over the RETAINED generations (Delta's
        ``DESCRIBE HISTORY`` in miniature), newest first — one row per
        generation whose manifest snapshot is still inside the vacuum
        retention window, from the per-gen snapshot files (driver-local
        JSON reads, O(retained), never a data scan).  Columns: ``gen``,
        ``op`` (create / merge / rebucket / restore / delete; null for
        pre-r12 commits),
        ``committed_at`` (UTC; null for pre-r12 commits), ``n_buckets``,
        ``n_files``, ``rows`` (null if any footer count was unknown),
        ``bucket_count``, ``readable`` (whether ``read_at_gen`` can still
        serve it — always true by construction, recorded for symmetry
        with deployments that vacuum out-of-band)."""
        from pyspark.sql.types import (
            BooleanType,
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )
        import datetime

        schema = StructType([
            StructField("gen", LongType()),
            StructField("op", StringType()),
            StructField("committed_at", TimestampType()),
            StructField("n_buckets", IntegerType()),
            StructField("n_files", IntegerType()),
            StructField("rows", LongType()),
            StructField("bucket_count", IntegerType()),
            StructField("readable", BooleanType()),
        ])
        rows = []
        for g, m in self._retained_manifests().items():
            buckets = m.get("buckets") or {}
            entry_rows = [e.get("rows", -1) for e in buckets.values()]
            ts = m.get("committed_at")
            rows.append((
                g,
                m.get("op"),
                datetime.datetime.fromtimestamp(ts, datetime.timezone.utc)
                if isinstance(ts, (int, float)) else None,
                len(buckets),
                sum(len(self._entry_paths(b, e)) for b, e in buckets.items()),
                sum(entry_rows) if all(r >= 0 for r in entry_rows) else None,
                m.get("bucket_count"),
                True,
            ))
        rows.sort(key=lambda r: -r[0])
        return self.spark.createDataFrame(rows, schema)

    def _manifest_at(self, gen: int) -> dict:
        """The manifest generation ``gen`` committed: its one
        ``_scd_manifest.<gen>.json`` snapshot, else the current manifest
        when that is ``gen`` — the current generation stays servable even
        if its snapshot copy is missing (crash between the manifest commit
        and the snapshot write, or a legacy table normalized in place whose
        base gen predates snapshots).  An unreadable or schema-less
        snapshot counts as missing.  Raises ``ValueError`` for any other
        generation: it is outside the retention window."""
        try:
            with open(self._snapshot_manifest_path(gen)) as f:
                manifest = json.load(f)
        except (OSError, ValueError):
            manifest = None
        if manifest is not None and manifest.get("schema"):
            return manifest
        current = self._read_manifest()
        if current is not None and current.get("gen") == gen and current.get("schema"):
            return current
        raise ValueError(
            f"no retained snapshot for generation {gen} "
            f"(current gen: {(current or {}).get('gen')}, retention: "
            f"{self._retain(current)} generations — older "
            "snapshots are vacuumed)"
        )

    def read_at_gen(self, gen: int) -> DataFrame:
        """Time-travel read: serve the table EXACTLY as generation ``gen``
        committed it (Delta's ``VERSION AS OF`` in miniature).  Valid for
        any generation still inside the vacuum retention window — its
        manifest snapshot and every file it references are retained for
        ``retain_generations`` further commits by construction."""
        manifest = self._manifest_at(gen)
        files, stale = self._affected_files(
            manifest, sorted(manifest.get("buckets", {}))
        )
        return self._full_read(manifest, files, stale)

    def _key_match_cond(self, left_alias: str, right_alias: str):
        """Null-safe business-key equality between two aliased relations —
        the ONE condition builder for every key-addressed read/write path
        (read_keys' semi-join, delete_keys' anti-join)."""
        cond = None
        for k in self.cfg.unique_key:
            c = F.col(f"{left_alias}.{k}").eqNullSafe(F.col(f"{right_alias}.{k}"))
            cond = c if cond is None else cond & c
        return cond

    def _leaf_read(self, files: list[str], stale: bool, schema_json: str) -> DataFrame:
        """Plan a read over manifest-resolved leaf files: pin the recorded
        schema on a clean manifest, merge footers when the manifest is
        behind disk (crash recovery — see _affected_files) or records no
        schema, empty relation of the recorded schema when no files remain.
        The one leaf reader: every read, the merge's target slice and
        rebucket's full read plan through it."""
        from pyspark.sql.types import StructType

        if files and (stale or not schema_json):
            return self.spark.read.option("mergeSchema", "true").parquet(*files)
        schema = StructType.fromJson(json.loads(schema_json))
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*files)

    def read_keys(self, keys: DataFrame) -> DataFrame:
        """Bucket-pruned key lookup: return every retained version of the
        requested keys while SCANNING only the bucket partitions those
        keys hash into — the read-side twin of the merge path's pruning.
        At 100 TB a consumer fetching k keys from the dimension reads
        O(k/bucket_count) of it (manifest-resolved leaf files, no
        partition discovery), not the whole table; the final filter is a
        broadcast left-semi join on the null-safe business key, so the
        big side never shuffles.

        ``keys`` is a DataFrame carrying (at least) the table's
        ``unique_key`` columns — typically small (a service's point
        lookups, a downstream join's key set); it is deduplicated and
        broadcast.  The driver-side collect is of distinct BUCKET IDS
        only (bounded by ``bucket_count``, never by key count).
        Unbucketed tables fall back to the same semi-join over the full
        read — correct, just unpruned."""
        key_cols = list(self.cfg.unique_key)
        # S5 barrier: the plan evaluates the key set twice (the bucket-id
        # collect below + the broadcast join in the returned plan) — an
        # expensive upstream derivation must not run twice.  The returned
        # DataFrame is lazy, so the session's release_caches() owns the
        # lifetime (recompute-after-release is safe), same as every other
        # operator-internal persist.
        cand = barrier(keys.select(*key_cols).distinct())
        manifest = self._read_manifest()
        self._adopt_bucket_count(manifest)

        def _semi(df: DataFrame) -> DataFrame:
            return df.alias("l").join(
                F.broadcast(cand).alias("r"),
                self._key_match_cond("l", "r"),
                "left_semi",
            )

        if (
            not self.partition_buckets
            or manifest is None
            or not manifest.get("schema")
        ):
            return _semi(self.read())
        affected = [
            r[0]
            for r in cand.select(self._bucket_expr(cand).alias("b"))
            .distinct()
            .collect()
        ]
        files, stale = self._affected_files(manifest, affected)
        return _semi(self._leaf_read(files, stale, manifest["schema"]))

    def read_at_timestamp(self, ts) -> DataFrame:
        """Time-travel read by COMMIT INSTANT (Delta's ``TIMESTAMP AS OF``
        in miniature): serve the latest generation whose ``committed_at``
        is <= ``ts``, under the same retention rules as ``read_at_gen`` —
        only generations whose snapshot manifest is still inside the
        vacuum retention window are resolvable, and a ``ts`` earlier than
        every retained commit raises the same error shape (older
        snapshots are vacuumed).  A ``ts`` at or after the newest commit
        serves the current generation.

        ``ts`` may be an ISO-8601 string, a ``datetime`` (naive means
        UTC — ``committed_at`` is recorded as UTC epoch seconds), or an
        epoch-seconds number.  Pre-r12 commits carry no ``committed_at``
        and are not resolvable by timestamp (use ``read_at_gen``)."""
        import datetime

        if isinstance(ts, str):
            ts = datetime.datetime.fromisoformat(ts)
        if isinstance(ts, datetime.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=datetime.timezone.utc)
            epoch = ts.timestamp()
        elif isinstance(ts, (int, float)) and not isinstance(ts, bool):
            epoch = float(ts)
        else:
            raise TypeError(
                "read_at_timestamp expects an ISO-8601 string, a datetime, "
                f"or epoch seconds (got {type(ts).__name__})"
            )
        # Resolve over the retained snapshot manifests + the current one —
        # the exact set read_at_gen can serve (see _retained_manifests).
        # Compare as MICROSECOND-precision datetimes derived exactly the
        # way ``history()`` surfaces the instant (fromtimestamp of the
        # raw ``time.time()`` float): ``committed_at`` carries
        # sub-microsecond bits the public TimestampType surface cannot,
        # and integer-rounding the ~1.8e15-µs float directly is itself
        # lossy (ulp 0.25 µs — a half-µs fraction can round UP while the
        # round-tripped input truncated DOWN, making an exact-instant
        # read miss by one microsecond).  Deriving both sides through the
        # same fromtimestamp makes the history() round-trip equal by
        # construction; datetime comparison is then exact integer math.
        candidates: dict[int, datetime.datetime] = {
            g: datetime.datetime.fromtimestamp(
                float(m["committed_at"]), datetime.timezone.utc
            )
            for g, m in self._retained_manifests().items()
            if isinstance(m.get("committed_at"), (int, float))
            and not isinstance(m.get("committed_at"), bool)
        }
        ts_dt = datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc)
        hits = [g for g, c in candidates.items() if c <= ts_dt]
        if not hits:
            current = self._read_manifest()
            cur = (current or {}).get("gen")
            earliest = (
                min(candidates.values()).isoformat() if candidates else None
            )
            raise ValueError(
                f"no retained snapshot committed at or before {ts!r} "
                f"(earliest retained commit: {earliest}, current gen: "
                f"{cur}, retention: {self._retain(current)} generations — "
                "older snapshots are vacuumed)"
            )
        return self.read_at_gen(max(hits))

    def _read_manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as f:
                m = json.load(f)
            return m if isinstance(m.get("buckets"), dict) else None
        except (OSError, ValueError):
            return None

    def _write_manifest(self, manifest: dict) -> None:
        _dump_json(self._manifest_path(), manifest)

    @staticmethod
    def _scan_bucket_dir(part_dir: str) -> dict | None:
        """{files, rows, max} for one bucket partition directory (None if
        the partition does not exist).  Row counts and timestamp-column
        maxima (see ``_file_maxima``) come from parquet footers
        (driver-local metadata reads, O(files in this bucket))."""
        try:
            names = sorted(
                n for n in os.listdir(part_dir)
                if n.endswith(".parquet") and not n.startswith((".", "_"))
            )
        except OSError:
            return None
        rows, maxima = 0, {}
        try:
            import pyarrow.parquet as pq

            for n in names:
                md = pq.ParquetFile(os.path.join(part_dir, n)).metadata
                rows += md.num_rows
                file_max = _file_maxima(md)
                if file_max is None or maxima is None:
                    maxima = None
                else:
                    _merge_maxima(maxima, file_max)
        except Exception:
            rows, maxima = -1, None  # unknown; files list is still valid
        return {"files": names, "rows": rows, "max": maxima}

    @staticmethod
    def _manifest_entry(paths, src: dict) -> dict:
        """The one manifest bucket-entry builder: root-relative ``paths``
        plus the footer facts of ``src`` (a ``_scan_bucket_dir`` result or
        an existing entry; absent facts are unknown)."""
        return {
            "paths": list(paths),
            "rows": src.get("rows", -1),
            "max": src.get("max"),
        }

    def _scan_full_manifest(
        self, data_schema_json: str, root: str | None = None
    ) -> dict:
        """Full-table scan building a fresh new-style manifest.  Used only
        where a full listing is already proportional to the work just done
        (the initial/full-refresh write) or as a one-time migration for a
        manifest-less table.  Scans the root bucket dirs (gen-0 / legacy
        layout) and every COMPLETE ``_gen-*`` dir — a generation without
        Spark's ``_SUCCESS`` marker is a torn write and is skipped, never
        adopted (the committed-manifest path sweeps it as an orphan; a
        complete-but-uncommitted one IS adopted: at-least-once commit
        semantics, its data is a valid merged SCD state).  Where a bucket
        appears in several layers the NEWEST generation wins, and every
        newest-wins LOSER goes on the reconstructed ``superseded`` ledger
        (displaced-at the reconstructed gen) so recovery does not orphan
        vacuum-pending files into permanent garbage.

        Honest limitation: the manifest is the ONLY record that a merge
        emptied a bucket, so losing it while that bucket's superseded
        files are still inside the retention window resurrects those rows
        (they are indistinguishable from live legacy data).  SCD merges
        never delete rows — type 2 retires them in place — so the popped-
        entry path is defensive; a deployment that hard-deletes buckets
        must not discard the manifest."""
        base = root if root is not None else self.path
        buckets: dict[str, dict] = {}
        losers: list[str] = []

        def scan_layer(rel_root: str) -> None:
            layer = os.path.join(base, rel_root) if rel_root else base
            try:
                names = os.listdir(layer)
            except OSError:
                return
            for name in names:
                if not name.startswith(f"{BUCKET_COL}="):
                    continue
                entry = self._scan_bucket_dir(os.path.join(layer, name))
                if entry is None:
                    continue
                b = name.split("=", 1)[1]
                prefix = f"{rel_root}/" if rel_root else ""
                if b in buckets:
                    losers.extend(buckets[b]["paths"])
                buckets[b] = self._manifest_entry(
                    [f"{prefix}{name}/{n}" for n in entry["files"]], entry
                )
        scan_layer("")
        # Numeric sort by parsed generation — lexicographic dirname order
        # would silently invert newest-wins precedence the day a counter
        # outgrows the zero-padding width, resurrecting superseded rows
        # during manifest-loss recovery.
        gen_dirs = [
            (g, n) for n in os.listdir(base) if (g := _gen_of(n)) is not None
        ]
        top = 0
        for g, gd in sorted(gen_dirs):
            if not os.path.exists(os.path.join(base, gd, "_SUCCESS")):
                continue  # torn write — never adopt
            scan_layer(gd)
            top = max(top, g)
        return {
            "gen": top,
            "buckets": buckets,
            "schema": data_schema_json,
            "superseded": {str(top): losers} if losers else {},
        }

    @staticmethod
    def _entry_paths(bucket_id, entry: dict) -> list[str]:
        """Root-relative data-file paths for one manifest bucket entry —
        new-style entries carry them directly; legacy entries carry bare
        file names relative to the root bucket dir."""
        if "paths" in entry:
            return list(entry["paths"])
        return [f"{BUCKET_COL}={bucket_id}/{n}" for n in entry["files"]]

    def _normalize_manifest(self, manifest: dict) -> dict:
        """Upgrade a legacy manifest to the generational form in memory
        (the caller's commit persists it): entries become root-relative
        path lists, gen 0 and an empty superseded ledger are seeded, and
        any root bucket dir the legacy manifest never learned about (a
        crashed old-protocol swap wrote it live) is adopted — after which
        the manifest is authoritative for bucket membership and the read
        path never has to guess whether an unlisted root dir is live data
        or vacuum-pending garbage."""
        if "gen" in manifest:
            manifest.setdefault("superseded", {})
            return manifest
        buckets: dict[str, dict] = {}
        for b, e in manifest.get("buckets", {}).items():
            buckets[str(b)] = self._manifest_entry(self._entry_paths(b, e), e)
        for name in os.listdir(self.path):
            if not name.startswith(f"{BUCKET_COL}="):
                continue
            b = name.split("=", 1)[1]
            if b in buckets:
                continue
            fresh = self._scan_bucket_dir(os.path.join(self.path, name))
            if fresh is not None:
                buckets[b] = self._manifest_entry(
                    [f"{name}/{n}" for n in fresh["files"]], fresh
                )
        return {
            "gen": 0,
            "buckets": buckets,
            "schema": manifest.get("schema"),
            "superseded": {},
        }

    # Abandoned-staging TTL: a crashed writer's `_stage-<uuid>/` dir stops
    # receiving writes, so age-gating on mtime (Delta VACUUM's treatment of
    # uncommitted files) cleans it up WITHOUT racing a live concurrent
    # writer's in-flight stage, which an unconditional sweep would destroy.
    STAGE_TTL_SECONDS = 24 * 3600

    def _sweep_stale_stages(self) -> None:
        # Age-gate on the NEWEST RECURSIVE mtime: a Spark staging write
        # lands task output under _temporary/ without touching the top
        # dir's mtime, so the top-level timestamp alone would condemn a
        # long-running LIVE stage as abandoned mid-write.
        now = time.time()
        try:
            names = os.listdir(self.path)
        except OSError:
            return
        for name in names:
            p = os.path.join(self.path, name)
            if name.startswith(f".{BUCKET_COL}=") and name.endswith("__old"):
                # Parked-partition remnant of the OLD swap protocol's
                # crashes (dot-prefixed, invisible to Spark): legacy only.
                shutil.rmtree(p, ignore_errors=True)
            if not name.startswith(STAGE_PREFIX):
                continue
            newest = 0.0
            for root, _dirs, fnames in os.walk(p):
                for f in [root] + [os.path.join(root, n) for n in fnames]:
                    try:
                        newest = max(newest, os.path.getmtime(f))
                    except OSError:
                        pass
            if newest and now - newest > self.STAGE_TTL_SECONDS:
                shutil.rmtree(p, ignore_errors=True)

    def _commit_lock(self):
        """The commit critical section's mutex: ``flock`` on a lock file in
        the table dir — held for METADATA ops only (gen check, one dir
        rename, one manifest replace; milliseconds), auto-released by the
        OS if the holder dies (no stale-lock recovery needed), advisory but
        honored by every writer since all commits route through here.
        This is the local-filesystem analogue of the conditional-put a real
        object-store deployment would use for the manifest pointer (same
        honesty note as ``_write_manifest``'s ``os.replace``); where flock
        is unavailable the protocol degrades to unlocked check-then-rename,
        whose rename still guarantees single ownership of a generation
        dir."""
        import contextlib

        @contextlib.contextmanager
        def _held():
            try:
                import fcntl
            except ImportError:
                yield False  # degraded: callers must not clear rivals' dirs
                return
            fd = os.open(
                os.path.join(self.path, "_scd_commit.lock"),
                os.O_CREAT | os.O_RDWR,
            )
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield True
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

        return _held()

    def _commit_transaction(
        self,
        stage_dir: str,
        gen_dir: str,
        base_gen: int | None,
        manifest: dict,
    ) -> None:
        """Commit a staged generation under OPTIMISTIC CONCURRENCY
        (Delta/Iceberg's protocol in miniature).  Under the commit lock:

        1. conflict check — another writer committed since this one
           planned (live generation != ``base_gen``) → abort with
           ``ConcurrentWriteError``, staged files removed, nothing ever
           visible (the caller re-merges against the refreshed table);
        2. orphan clear — a generation dir at this number with a LOWER
           live generation is a crashed writer's rename that never
           committed (renames only happen under this lock, so it cannot
           be in flight); at-or-above means the number is taken → abort;
        3. claim — rename the private stage dir onto ``_gen-<G>``: single
           ownership even if the lock degrades to best-effort;
        4. publish — atomic manifest replace + snapshot write.

        A crash inside the section releases the lock with either no
        visible change (before the manifest replace) or a completed
        commit (after) — the same two outcomes as before."""
        gen = manifest["gen"]
        with self._commit_lock() as locked:
            live = self._read_manifest()
            live_gen = (
                live.get("gen")
                if live is not None and isinstance(live.get("gen"), int)
                else None
            )
            if (
                base_gen is not None
                and live_gen is not None
                and live_gen != base_gen
            ):
                shutil.rmtree(stage_dir, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"concurrent commit detected on {self.path}: this "
                    f"write planned against generation {base_gen} but "
                    f"generation {live_gen} is now committed — re-run "
                    "the merge against the refreshed table"
                )
            if os.path.exists(gen_dir):
                if live_gen is not None and live_gen >= gen:
                    shutil.rmtree(stage_dir, ignore_errors=True)
                    raise ConcurrentWriteError(
                        f"concurrent commit detected on {self.path}: "
                        f"generation {gen} is already committed — re-run "
                        "the merge against the refreshed table"
                    )
                if not locked:
                    # Degraded (no flock): an existing uncommitted dir
                    # CANNOT be proven a crashed orphan rather than a
                    # rival's in-flight rename — clearing it here would be
                    # the very lost update this protocol exists to prevent.
                    shutil.rmtree(stage_dir, ignore_errors=True)
                    raise ConcurrentWriteError(
                        f"generation dir {os.path.basename(gen_dir)} exists "
                        f"on {self.path} and no commit lock is available on "
                        "this platform to prove it is a crashed orphan — "
                        "remove it manually if no other writer is active"
                    )
                shutil.rmtree(gen_dir, ignore_errors=True)
            try:
                os.rename(stage_dir, gen_dir)
            except OSError as exc:
                shutil.rmtree(stage_dir, ignore_errors=True)
                raise ConcurrentWriteError(
                    f"concurrent commit detected on {self.path}: "
                    f"generation dir {os.path.basename(gen_dir)} was "
                    "claimed by another writer — re-run the merge against "
                    "the refreshed table"
                ) from exc
            self._write_manifest(manifest)
            self._write_snapshot_manifest(manifest)

    def _persist_ledger_if_unchanged(self, manifest: dict, gen: int) -> None:
        """Persist the post-vacuum ledger shrink ONLY if this writer's
        commit is still the latest — an unconditional rewrite here could
        clobber a rival's newer commit in the window after our own (the
        rival's vacuum re-deletes our expired paths harmlessly:
        FileNotFoundError is ignored, so skipping loses nothing).
        Degraded mode (no flock) skips too: the check-then-write is only
        race-free under the lock, and skipping is the loss-free option by
        the same argument (ADVICE r12)."""
        with self._commit_lock() as locked:
            if not locked:
                return
            live = self._read_manifest()
            if live is not None and live.get("gen") == gen:
                self._write_manifest(manifest)

    def _new_stage_dir(self) -> str:
        """Writer-private staging dir (see ``_commit_transaction``): the
        generation number is claimed only at commit time, so concurrent
        writers can never scribble into one directory."""
        import uuid

        return os.path.join(self.path, f"{STAGE_PREFIX}{uuid.uuid4().hex}")

    def _recover(self) -> tuple[dict, DataFrame | None]:
        """Manifest-loss recovery: rebuild the manifest from disk (newest
        generation wins per bucket — see ``_scan_full_manifest``) and plan
        a footer-merged read of the files it adopts (None when there are
        none): the schema's record went with the manifest."""
        recon = self._scan_full_manifest("")
        files = [
            os.path.join(self.path, r)
            for e in recon["buckets"].values()
            for r in e["paths"]
        ]
        return recon, (self._leaf_read(files, True, None) if files else None)

    def _open_manifest(self, manifest: dict | None = None) -> dict | None:
        """Step one of every generational write: the committed manifest
        (``manifest`` if the caller already read it), upgraded to the
        generational form, with the pre-commit housekeeping done.

        - Sweeps abandoned stages and the old swap protocol's ``__old``
          remnants (one listing).
        - A manifest-less table holding data is migrated once (the same
          full listing the old path paid every merge); the schema is merged
          from the adopted files' footers.  None means no data at all.
        - A legacy manifest is normalized in memory; the commit persists it.
        - Orphan generations above the live one are swept, and the current
          generation's snapshot is backfilled if missing (legacy table,
          pre-snapshot table, or a crash between a commit and its snapshot
          write): the state the commit displaces must stay
          time-travel-readable for the full retention window."""
        self._sweep_stale_stages()
        if manifest is None:
            manifest = self._read_manifest()
        if manifest is None and any(
            n.startswith((f"{BUCKET_COL}=", GEN_PREFIX))
            for n in os.listdir(self.path)
        ):
            manifest, adopted = self._recover()
            if adopted is None:
                return None
            manifest["schema"] = adopted.schema.json()
        elif manifest is not None and "gen" not in manifest:
            manifest = self._normalize_manifest(manifest)
        if manifest is not None:
            manifest.setdefault("superseded", {})
            self._sweep_orphan_generations()
            if manifest.get("schema") and not os.path.exists(
                self._snapshot_manifest_path(manifest.get("gen", 0))
            ):
                self._write_snapshot_manifest(manifest)
        return manifest

    def _stamp(
        self,
        manifest: dict,
        op: str,
        bucket_count: int | None = None,
        txn: dict | None = None,
        prior: dict | None = None,
    ) -> None:
        """Stamp a commit's fields onto ``manifest``.  The TABLE properties
        carry over from ``prior`` (default: ``manifest`` itself): the
        effective retention is recorded (an explicit constructor value
        updates it; default writers inherit it), so no later writer can
        vacuum underneath a reader that opened the table under a longer
        window, and the per-app ``txn`` epoch map is carried forward with
        ``txn``'s pairs merged in — recorded atomically WITH the data
        pointer (Delta txnAppId/txnVersion; see ``build()``'s exactly-once
        note).  ``bucket_count`` defaults to this handle's."""
        prior = manifest if prior is None else prior
        manifest["retain"] = self._retain(prior)
        manifest["bucket_count"] = bucket_count or self.partition_buckets
        manifest["op"] = op
        manifest["committed_at"] = time.time()
        txns = {**(prior.get("txn") or {}), **(txn or {})}
        if txns:
            manifest["txn"] = txns

    def _transact(
        self,
        op: str,
        manifest: dict | None,
        t0: float,
        frame=None,
        buckets=(),
        displaced=(),
        bucket_count: int | None = None,
        txn: dict | None = None,
    ) -> None:
        """Step two of every generational write: one optimistic transaction
        (Delta's ``OptimisticTransaction`` in miniature).  The operation
        supplies only its bucket rewrite:

        - ``frame()`` plans the rows to write (called inside the timed
          stage phase; the operation's scope frees its merge
          intermediates whether the commit succeeds or aborts), staged
          under ``bucket_count``'s mapping (default: this handle's) as
          one file per bucket; a frame
          that already carries ``_scd_bucket`` (a bucket-local merge,
          hash-partitioned on it) is written as is, and the manifest
          records its schema without that column; ``frame=None`` stages
          nothing (a metadata-only commit);
        - ``buckets``: the bucket ids the stage rewrites — each entry is
          replaced by its staged files, or dropped if none were staged;
        - ``displaced``: data files (absolute) the commit stops
          referencing, put on the superseded ledger for deferred vacuum.

        Claims generation ``gen + 1`` of ``manifest`` (gen 1 of a fresh
        table when ``manifest`` is None), stages into a writer-private dir,
        commits under ``_commit_transaction``'s OCC (a rival's commit makes
        this one raise ``ConcurrentWriteError`` with nothing visible),
        writes the provenance meta, then vacuums — persisting the shrunk
        ledger only on CONTENT change (a partial vacuum failure re-adds a
        key with fewer paths) and only if this commit is still the latest.
        ``t0`` is when the operation began planning: ``last_phase_times``
        gets ``list_affected`` (planning), ``merge_and_stage``,
        ``swap_and_commit`` and ``vacuum``.

        Durability: the rows are planned over the live table, so they must
        be fully on disk before the commit makes them visible — the staged
        write IS that durable barrier, and claiming the generation number
        only at commit time (rename onto ``_gen-<G>``) means concurrent
        writers never scribble into one directory.  A crash before the
        rename leaves an invisible stage dir (TTL-swept); between rename
        and manifest replace, an invisible orphan generation the next
        commit sweeps; after the replace, a completed commit.  Readers
        planned against the previous manifest keep their files for
        ``retain_generations`` further commits before vacuum.  On an object
        store this is exactly a table-format commit (Delta/Iceberg):
        immutable data files + a conditional pointer write."""
        self.last_phase_times = {"list_affected": time.perf_counter() - t0}
        t0 = time.perf_counter()
        base_gen = manifest.get("gen") if manifest is not None else None
        manifest = manifest or {"gen": 0, "buckets": {}, "superseded": {}}
        gen = manifest.get("gen", 0) + 1
        gen_rel = _gen_dirname(gen)
        stage_dir = self._new_stage_dir()
        result = frame() if frame is not None else None
        if result is None:
            os.makedirs(stage_dir)
        else:
            staged = result
            if BUCKET_COL not in result.columns:
                # One file per rewritten bucket (not one per shuffle
                # task per bucket): without this co-location the
                # generation dirs inherit the task fan-out and the
                # table's file count grows ∝ writes × buckets — every
                # later merge then pays a listing of all of them
                # (measured: the s40 bucketed merge cost grew WITH the
                # table until this fix).  A bucket-local merge result
                # already carries the column, hash-partitioned on it.
                staged = result.withColumn(
                    BUCKET_COL, self._bucket_expr(result, bucket_count)
                ).repartition(len(buckets), F.col(BUCKET_COL))
            staged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(
                stage_dir
            )
            manifest["schema"] = result.drop(BUCKET_COL).schema.json()
        self.last_phase_times["merge_and_stage"] = time.perf_counter() - t0
        # The generation is durable and invisible: patch the rewritten
        # buckets' entries (O(rewritten) scanning, not O(table)).
        for b in buckets:
            entry = self._scan_bucket_dir(
                os.path.join(stage_dir, f"{BUCKET_COL}={b}")
            )
            if entry is None:
                manifest["buckets"].pop(str(b), None)
            else:
                manifest["buckets"][str(b)] = self._manifest_entry(
                    [f"{gen_rel}/{BUCKET_COL}={b}/{n}" for n in entry["files"]],
                    entry,
                )
        if displaced:
            manifest["superseded"][str(gen)] = [
                os.path.relpath(p, self.path) for p in displaced
            ]
        manifest["gen"] = gen
        self._stamp(manifest, op, bucket_count, txn)
        t0 = time.perf_counter()
        self._commit_transaction(
            stage_dir, os.path.join(self.path, gen_rel), base_gen, manifest
        )
        self._write_meta()
        self.last_phase_times["swap_and_commit"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        ledger_before = json.dumps(manifest["superseded"], sort_keys=True)
        self._vacuum(manifest, gen)
        if json.dumps(manifest["superseded"], sort_keys=True) != ledger_before:
            self._persist_ledger_if_unchanged(manifest, gen)
        self.last_phase_times["vacuum"] = time.perf_counter() - t0

    def _sweep_orphan_generations(self) -> None:
        """Remove `_gen-*` dirs newer than the LIVE committed generation —
        a crash between the gen-dir rename and the manifest commit leaves
        one; it was never visible to readers, so deleting it is safe.
        Judged against a fresh manifest read UNDER THE COMMIT LOCK, never
        against the caller's (possibly stale) planned manifest: a stale
        plan must not condemn a rival's just-committed generation, and the
        lock excludes the rename-to-manifest-write window where a LIVE
        commit's dir would look orphaned.  Tidiness only — the commit
        itself clears a crashed orphan occupying its number (see
        ``_commit_transaction`` step 2).  Degraded mode (no flock on this
        platform) skips the sweep entirely: without the lock an
        above-live gen dir cannot be proven a crashed orphan rather than
        a rival's renamed-but-not-yet-published commit, and rmtree'ing a
        rival's claim is the exact lost update ``_commit_transaction``
        refuses to risk degraded (ADVICE r12)."""
        with self._commit_lock() as locked:
            if not locked:
                return
            live = self._read_manifest()
            if live is None or not isinstance(live.get("gen"), int):
                return  # no committed baseline to judge orphans against
            for name in os.listdir(self.path):
                g = _gen_of(name)
                if g is not None and g > live["gen"]:
                    shutil.rmtree(
                        os.path.join(self.path, name), ignore_errors=True
                    )

    def _vacuum(
        self, manifest: dict, gen: int, retain_override: int | None = None
    ) -> int:
        """Delete superseded files whose displacing commit has fallen out
        of the retention window (S <= gen - retain_generations): they are
        unreferenced by every manifest a live reader could still hold.
        O(files displaced by those commits), never O(table).  Empty bucket
        and generation directories are pruned as their files go.  Missing
        files are ignored (already gone — a crash mid-vacuum just retries
        here next commit), but any OTHER removal failure (permissions,
        transient I/O) puts the path back on the ledger: the caller
        persists the shrunk ledger after this returns, and a popped-but-
        not-deleted file would otherwise leak permanently.  Returns the
        number of files removed."""
        ledger = manifest.setdefault("superseded", {})
        eff = (
            retain_override
            if retain_override is not None
            else self._retain(manifest)
        )
        removed = 0
        root = os.path.abspath(self.path)
        for key in [k for k in ledger if int(k) <= gen - eff]:
            failed: list[str] = []
            for rel in ledger.pop(key):
                p = os.path.join(self.path, rel)
                try:
                    os.remove(p)
                    removed += 1
                except FileNotFoundError:
                    pass
                except OSError:
                    failed.append(rel)
                    continue
                d = os.path.dirname(p)
                while os.path.abspath(d) != root and self._prune_dir(d):
                    d = os.path.dirname(d)
            if failed:
                ledger[key] = failed
        # Prune aged-out FILE-LESS generation dirs: a metadata-only commit
        # (restore) claims its number with an empty `_gen-<G>` dir that no
        # ledger entry will ever visit — without this sweep each restore
        # leaves one empty directory forever (the unbounded-metadata
        # garbage _prune_dir exists to prevent).  _prune_dir refuses any
        # dir holding real files or subdirs, so generations whose files
        # are still live are untouched; one driver-local listdir.
        try:
            names = os.listdir(self.path)
        except OSError:
            names = []
        for name in names:
            g = _gen_of(name)
            if g is not None and g <= gen - eff:
                self._prune_dir(os.path.join(self.path, name))
        return removed

    @staticmethod
    def _prune_dir(d: str) -> bool:
        """Remove a directory that holds nothing but write markers
        (``_SUCCESS``, ``.*.crc`` — Spark leaves them next to the data
        files, so a bare rmdir after deleting the parquet would always
        fail and emptied generation dirs would accumulate one per commit,
        unbounded metadata garbage at object-store scale).  Deletes the
        markers and the dir; returns False — leaving everything untouched
        — if any real file or subdirectory remains."""
        try:
            entries = os.listdir(d)
        except OSError:
            return False
        for n in entries:
            if os.path.isdir(os.path.join(d, n)) or not n.startswith((".", "_")):
                return False
        for n in entries:
            try:
                os.remove(os.path.join(d, n))
            except OSError:
                return False
        try:
            os.rmdir(d)
            return True
        except OSError:
            return False

    def _affected_files(
        self, manifest: dict | None, affected: list
    ) -> tuple[list[str], bool]:
        """(absolute data-file paths for the affected buckets, any_stale) —
        manifest-first with per-bucket verify-and-relist fallback (see class
        note above).  ``any_stale`` tells the caller the manifest is behind
        the disk state (crash between swap and commit), in which case its
        recorded SCHEMA must not be trusted either: the swapped-in files may
        carry a newer schema, and pinning the old one would silently drop
        columns — the one way an advisory manifest could yield wrong data
        rather than a re-list."""
        buckets = (manifest or {}).get("buckets", {})
        out: list[str] = []
        any_stale = False
        for b in affected:
            part_dir = os.path.join(self.path, f"{BUCKET_COL}={b}")
            entry = buckets.get(str(b))
            if entry is None:
                # No manifest entry.  Under a NEW-STYLE manifest that is
                # definitive: either normal growth (bucket never existed)
                # or a bucket a merge emptied — whose root dir, if any,
                # holds only SUPERSEDED files awaiting vacuum that must
                # not be resurrected.  Under a LEGACY manifest, a root
                # directory it never learned about is a crashed
                # old-protocol swap whose files are live (stale entry).
                if manifest is not None and "gen" in manifest:
                    continue
                fresh = self._scan_bucket_dir(part_dir)
                if fresh is not None:
                    any_stale = True
                    out.extend(
                        os.path.join(part_dir, n) for n in fresh["files"]
                    )
                continue
            rels = self._entry_paths(b, entry)
            paths = [os.path.join(self.path, r) for r in rels]
            if not all(os.path.exists(p) for p in paths):
                # Stale entry: a legacy crash between swap and manifest
                # write, or external tampering with a generational table
                # (our own commits never delete a referenced file inside
                # the retention window).  Re-list the ONE directory the
                # entry's files live in — a bucket is always rewritten
                # whole, so all its files share a parent.
                any_stale = True
                parent = (
                    os.path.dirname(paths[0]) if paths else part_dir
                )
                fresh = self._scan_bucket_dir(parent)
                paths = [
                    os.path.join(parent, n) for n in (fresh or {"files": []})["files"]
                ]
            out.extend(paths)
        return out, any_stale

    @staticmethod
    def _slice_row_bound(
        manifest: dict | None, affected: list, stale: bool
    ) -> int | None:
        """Rows of the affected buckets' target slice, from the manifest's
        per-bucket footer counts — None unless every one is known: a stale
        or legacy manifest, or a ``rows: -1`` entry, gives no bound.  A
        bucket with no entry in a new-style manifest holds no rows (see
        ``_affected_files``)."""
        if stale or manifest is None or "gen" not in manifest:
            return None
        total = 0
        for b in affected:
            rows = manifest["buckets"].get(str(b), {"rows": 0}).get("rows", -1)
            if rows < 0:
                return None
            total += rows
        return total

    def _write_meta(self, root: str | None = None) -> None:
        """Record how this relation was built so the next run can apply the
        reference's materialization-match rule (is_incremental.sql:18-28:
        a relation last built by a DIFFERENT materialization forces a full
        rebuild rather than an incremental merge).  ``root`` defaults to
        the table dir; ``_atomic_write`` passes its staging dir."""
        _dump_json(
            os.path.join(root or self.path, META),
            {"materialized": self.MATERIALIZATION, "scd_type": self.cfg.scd_type},
        )

    def _materialization_matches(self) -> bool:
        """is_incremental.sql:18-28's materialization-match leg.  A missing
        or unreadable metadata file means UNKNOWN provenance and counts as a
        MATCH (incremental), aligned with
        ``sources.incremental.is_incremental_run``'s ``None``-means-match
        rule: the destructive alternative (treat unknown as mismatch →
        initial load → ``_atomic_write`` replaces the table) would silently
        discard accumulated SCD2 history for any table built before the
        meta file existed, or whose meta file was lost.  Only an EXPLICIT
        record of a different materialization forces the rebuild — same as
        dbt replacing a ``table`` relation when the model switches to
        ``scd``.  ``_write_meta`` runs on every build, so unknown-provenance
        tables are backfilled after one incremental cycle."""
        try:
            with open(self._meta_path()) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            return True
        # scd_type is recorded for observability but not matched on — the
        # reference's rule is materialization-granular (an scd_type change
        # re-merges under the new config, same as changing any other config).
        return meta.get("materialized") == self.MATERIALIZATION

    def read(self) -> DataFrame:
        manifest = self._read_manifest()
        self._adopt_bucket_count(manifest)
        if not self.partition_buckets and not (manifest or {}).get("schema"):
            return self.spark.read.parquet(self.path)
        if not manifest or not manifest.get("schema"):
            try:
                root_names = os.listdir(self.path)
            except OSError:
                # Missing/unreadable table dir: fall through to the Spark
                # read so the caller gets the usual [PATH_NOT_FOUND]
                # AnalysisException, not a bare FileNotFoundError.
                root_names = []
            if any(n.startswith(GEN_PREFIX) for n in root_names):
                # Manifest-less GENERATIONAL table (manifest deleted out of
                # band): Spark's recursive discovery skips the
                # underscore-prefixed generation dirs, so reconstruct the
                # file set the way _open_manifest migrates such a table.
                adopted = self._recover()[1]
                if adopted is not None:
                    return adopted
            # Pre-manifest legacy table: recursive discovery (one-time; the
            # next build writes the manifest).
            return self.spark.read.parquet(self.path).drop(BUCKET_COL)
        # Manifest-backed full read: ONE root readdir (catches bucket dirs a
        # crashed swap created before its manifest commit) + per-bucket
        # verify-and-relist, instead of Spark's recursive stat walk over
        # every partition — the read-side twin of the merge path's listing
        # fix.  Data files never contain BUCKET_COL (a partition-dir
        # column), so reading leaf files directly needs no drop().
        # Bucket membership: a NEW-STYLE manifest is authoritative — it is
        # the committed snapshot (migration adopts any root dirs a legacy
        # crash left unknown, and a popped entry's root dir holds only
        # superseded files awaiting vacuum, which must NOT be served).
        # Orphan `_gen-*` dirs are likewise invisible until committed.  A
        # LEGACY manifest still unions in root dirs it never learned about
        # (a crashed old-protocol swap wrote them live).
        bucket_ids = set(map(str, (manifest.get("buckets") or {}).keys()))
        if "gen" not in manifest:
            bucket_ids |= {
                n.split("=", 1)[1]
                for n in os.listdir(self.path)
                if n.startswith(f"{BUCKET_COL}=")
            }
        files, stale = self._affected_files(manifest, sorted(bucket_ids))
        return self._full_read(manifest, files, stale)

    def _full_read(self, manifest: dict, files: list[str], stale: bool) -> DataFrame:
        """``_leaf_read`` of a whole generation, carrying the table-level
        timestamp maxima as ``_scd_column_max`` ({column: epoch micros,
        None when null in every row}) the way ``_scd_row_bound`` travels
        on the merge slice; ``high_water_mark`` answers from it without a
        job.  Attached only for a new-style manifest that is not stale and
        whose every bucket entry has a known ``max``; any transformation
        of the frame drops it."""
        df = self._leaf_read(files, stale, manifest["schema"])
        entries = (manifest.get("buckets") or {}).values()
        if stale or "gen" not in manifest or any(
            e.get("max") is None for e in entries
        ):
            return df
        maxima: dict = {}
        for e in entries:
            _merge_maxima(maxima, e["max"])
        df._scd_column_max = maxima
        return df

    def _bucket_expr(self, df: DataFrame, buckets: int | None = None):
        # Stable across runs and engines enough for partitioning: md5 of the
        # null-safe business key, low 15 hex chars → bucket id.
        from ..functions.hashing import surrogate_key

        n = buckets if buckets is not None else self.partition_buckets
        return (
            F.conv(F.substring(surrogate_key(list(self.cfg.unique_key)), 1, 15), 16, 10)
            .cast("long") % n
        ).cast("int")

    # -- lifecycle ------------------------------------------------------

    @_write_op
    def build(
        self,
        model_df: DataFrame,
        full_refresh: bool = False,
        txn_epoch: int | None = None,
        txn_app: str = "default",
    ) -> DataFrame:
        """Run one materialization cycle; returns the post-build table.

        ``txn_epoch`` (+ ``txn_app``) enables EXACTLY-ONCE streaming merges
        on the bucketed sink — Delta's ``txnAppId``/``txnVersion``
        idempotent-writes story: pass the micro-batch's epoch id and the
        writer's application id, and the commit records the pair in the
        manifest atomically with the data pointer.  A replayed epoch
        (foreachBatch re-delivers the same batch id after a failure) is
        detected against the COMMITTED manifest and skipped entirely — a
        crash before the commit left no visible state (the orphan
        generation is swept), a crash after it is a completed commit, so
        each epoch's effect lands exactly once.  The ``txn_app`` scope is
        what makes epoch-counter restarts safe: a second stream, or the
        same stream restarted with a FRESH CHECKPOINT (batch ids reset to
        0), must use a new ``txn_app`` — under the old unscoped gate every
        one of its batches would have been silently skipped as replays.
        The vanilla SCD merge is already semantically idempotent for
        identical replayed rows (no hash/updated_at change → no new
        versions); the epoch gate additionally skips the replay's full
        merge work and hardens tie-break-sensitive configs."""
        cfg = self.cfg
        # S5: single evaluation of the model ("temp table") — the plan
        # references the batch multiple times (new_records, dedup, redundant
        # check), exactly why the reference materializes it once; the
        # write's scope drops it (S8).
        model_df = barrier(model_df)
        cfg.validate_against_schema(model_df.schema)

        # scd_plan.sql:104 + is_incremental.sql:18-28: initial unless the
        # relation exists AND was built by this materialization AND the run
        # is not a full refresh.
        initial = (
            full_refresh
            or not self.exists()
            or not self._materialization_matches()
        )
        # Bucket count is a table property: adopt/validate BEFORE deciding
        # the write path, so a default-constructed writer merges an
        # existing bucketed table bucketed and an explicit mismatch fails
        # loudly instead of mis-routing keys.  A FULL REFRESH rewrites
        # every row, so a different explicit count is a legitimate
        # re-layout there, not a mis-route hazard.  One manifest read
        # serves the adoption, the epoch gate, and the merge.
        manifest = self._read_manifest()
        self._adopt_bucket_count(manifest, relayout_ok=initial)
        if self.partition_buckets and not initial and cfg.scd_type == 2:
            if txn_epoch is not None:
                last = ((manifest or {}).get("txn") or {}).get(txn_app)
                if isinstance(last, int) and last >= txn_epoch:
                    return
            self._build_bucketed_incremental(
                model_df, txn_epoch=txn_epoch, txn_app=txn_app,
                manifest=manifest,
            )
            return

        if cfg.scd_type == 2:
            if initial:
                result = scd2_initial_load(model_df, cfg)
            else:
                result = self.merge_fn(self.read(), model_df, cfg)
        elif cfg.scd_type == 1:
            if initial:
                result = scd1_initial_load(model_df, cfg)
            else:
                result = scd1_incremental(self.read(), model_df, cfg)
        else:
            if initial:
                result = scd0_initial_load(model_df, cfg)
            else:
                result = scd0_incremental(self.read(), model_df, cfg)

        self._atomic_write(
            result,
            txn_epoch=txn_epoch,
            txn_app=txn_app,
            prior_manifest=manifest,
        )

    def _build_bucketed_incremental(
        self,
        batch: DataFrame,
        txn_epoch: int | None = None,
        txn_app: str = "default",
        manifest: dict | None = None,
        merge_fn=None,
        op: str = "merge",
    ) -> None:
        """Merge only the buckets the batch touches, rewrite only those
        buckets — into a NEW immutable generation directory, committed by
        ``_transact`` (see its durability note and the snapshot-isolation
        note on the manifest above).  ``merge_fn``/``op`` let
        ``delete_keys`` reuse the path with an anti-join."""
        # One action lists the affected buckets AND counts the batch — the
        # batch half of the merge's row bound (see _slice_row_bound).
        bucket_rows = batch.groupBy(self._bucket_expr(batch).alias("b")).count().collect()
        affected = [r[0] for r in bucket_rows]
        if not affected:
            # Empty incremental batch (a realistic CDC input): no bucket is
            # touched, so the merge is a no-op — and `.repartition(0, ...)`
            # in the stage write would raise.  Keep provenance current and
            # leave the table untouched, same net effect as the vanilla
            # path merging an empty batch.
            self._write_meta()
            return
        # Resolve the target slice through the manifest: O(affected-bucket)
        # driver work instead of a full-table file listing.  Reading the
        # leaf files directly (no partition discovery) also skips footer
        # schema merging — the manifest carries the data schema.
        t0 = time.perf_counter()
        manifest = self._open_manifest(manifest)
        files, stale = self._affected_files(manifest, affected)
        schema_json = (manifest or {}).get("schema")
        if files or schema_json:
            target_slice = self._leaf_read(files, stale, schema_json)
        else:
            # No files AND no recorded schema (legacy empty table): derive
            # the SCD output schema from the batch itself.
            target_slice = scd2_initial_load(batch.limit(0), self.cfg)
        # Both travel on the target slice as attributes, and any other
        # merge_fn ignores them.  The bucketing (the
        # bucket expression and the affected-bucket count) lets the stock
        # merge run bucket-local: the slice holds every version of every
        # batch key, so one shuffle on the bucket serves the whole merge
        # and the write.  The row bound lets the adaptive merge skip its
        # hot-key detection jobs.
        target_slice._scd_bucketing = (self._bucket_expr(target_slice), len(affected))
        slice_rows = self._slice_row_bound(manifest, affected, stale)
        if slice_rows is not None:
            target_slice._scd_row_bound = slice_rows + sum(r[1] for r in bucket_rows)
        # The displaced files — the exact file set the target slice read —
        # go on the superseded ledger under this commit's generation.
        self._transact(
            op,
            manifest,
            t0,
            frame=lambda: (merge_fn or self.merge_fn)(target_slice, batch, self.cfg),
            buckets=affected,
            displaced=files,
            txn={txn_app: txn_epoch} if txn_epoch is not None else None,
        )

    @_write_op
    def rebucket(self, new_count: int) -> DataFrame:
        """Change the table's bucket count — the maintenance op for data
        growth: buckets are sized (~50k rows) at creation, so a table that
        grows 100× leaves each bucket 100× oversized and the flat
        O(affected-buckets) merge claim erodes.  The bucket mapping is the
        physical layout, so this is necessarily a FULL data rewrite
        (Delta/Iceberg's OPTIMIZE / rewrite-data-files story) — but it
        commits THROUGH the generational protocol: the new layout lands in
        ONE new generation, the commit atomically repoints every bucket
        entry, records the new ``bucket_count`` table property, and
        ledgers the entire old file set for deferred vacuum — concurrent
        readers' planned snapshots and ``read_at_gen`` history stay valid
        for the usual retention window, and a crash before the commit
        leaves only an invisible orphan generation."""
        if new_count < 1:
            raise ValueError("new_count must be >= 1")
        manifest = self._read_manifest()
        if manifest is None:
            raise ValueError(
                f"rebucket() needs a bucketed table with a manifest at "
                f"{self.path}; rebuild unbucketed/legacy tables with "
                "build(full_refresh=True) instead"
            )
        t0 = time.perf_counter()
        manifest = self._open_manifest(manifest)
        old_files, stale = self._affected_files(
            manifest, sorted(manifest.get("buckets", {}))
        )
        schema_json = manifest.get("schema")
        if not old_files and not schema_json:
            raise ValueError(
                f"cannot rebucket empty schemaless table at {self.path}"
            )
        # Plan the current table directly from the file list just resolved
        # (ONE listing serves both the read plan and the displaced ledger)
        # rather than via self.read() — which would also re-run bucket-count
        # adoption and refuse a handle constructed with the NEW count, the
        # very caller this method exists for.  Every bucket is rewritten
        # under the new mapping, so the entries start empty.
        manifest["buckets"] = {}
        self._transact(
            "rebucket",
            manifest,
            t0,
            frame=lambda: self._leaf_read(old_files, stale, schema_json),
            buckets=range(new_count),
            displaced=old_files,
            bucket_count=new_count,
        )
        # Handle state flips only AFTER the commit: an aborted transaction
        # must leave this handle merging under the OLD mapping, not
        # hard-failing every later build() on a bucket-count mismatch.
        self.partition_buckets = new_count
        self._explicit_buckets = True

    @_write_op
    def restore(self, gen: int) -> DataFrame:
        """Roll the table BACK to retained generation ``gen`` as a NEW
        commit (Delta's ``RESTORE TABLE ... TO VERSION AS OF`` in
        miniature).  METADATA-ONLY at any scale: every file the target
        generation referenced is still on disk by the retention guarantee,
        so the commit REPOINTS each bucket entry at those files — zero
        data movement on a 100 TB table — while history keeps advancing:
        the rollback is itself an audited commit (``op='restore'``), the
        rolled-back-over states stay time-travel-readable for the usual
        retention window, and a subsequent merge builds on the restored
        state.  Restoring also restores the LAYOUT (``bucket_count`` as of
        that generation — a rebucket in between is rolled back too).

        Ledger bookkeeping keeps vacuum exact: paths this restore makes
        live again come OFF the superseded ledger (they are referenced by
        the new current manifest — vacuuming them would corrupt the
        table), and the files the restore displaces (current state not in
        the restored set) go ON it under the new generation, aging out on
        the normal schedule.  Files shared between both states (buckets
        untouched by the intervening commits) appear in neither list.

        Same resolution rules and error shape as ``read_at_gen``: only
        generations whose snapshot manifest is still inside the retention
        window are restorable.  Concurrency: the commit goes through the
        same optimistic transaction as a merge — a rival committing in
        between raises ``ConcurrentWriteError`` with nothing visible.

        Caveat (documented, deliberate): a metadata-only restore commits
        an EMPTY generation directory, so the best-effort manifest-LOSS
        reconstruction (newest physical generation wins per bucket) would
        rebuild the pre-restore state; the retained per-gen snapshot
        manifests remain the authoritative history for that (out-of-band
        tampering) scenario — the same class of caveat as deleting a
        Delta table's ``_delta_log``."""
        manifest = self._read_manifest()
        if manifest is None or "gen" not in manifest:
            raise ValueError(
                f"restore() needs a bucketed generational table with a "
                f"manifest at {self.path}; rebuild unbucketed/legacy "
                "tables with build(full_refresh=True) instead"
            )
        snap = self._manifest_at(gen)
        t0 = time.perf_counter()
        manifest = self._open_manifest(manifest)
        restored_buckets: dict[str, dict] = {}
        restored_rel: set[str] = set()
        for b, e in (snap.get("buckets") or {}).items():
            rels = self._entry_paths(b, e)
            restored_buckets[str(b)] = self._manifest_entry(rels, e)
            restored_rel.update(rels)
        missing = sorted(
            r for r in restored_rel
            if not os.path.exists(os.path.join(self.path, r))
        )
        if missing:
            raise ValueError(
                f"cannot restore {self.path} to generation {gen}: "
                f"{len(missing)} referenced file(s) are gone (vacuumed "
                f"out-of-band?), e.g. {missing[0]}"
            )
        current_files, _ = self._affected_files(
            manifest, sorted(manifest.get("buckets", {}))
        )
        # Re-referenced paths come OFF the ledger: they are live again, and
        # a later commit that displaces them re-ledgers them under ITS gen.
        for k in list(manifest["superseded"]):
            kept = [p for p in manifest["superseded"][k] if p not in restored_rel]
            if kept:
                manifest["superseded"][k] = kept
            else:
                del manifest["superseded"][k]
        manifest["buckets"] = restored_buckets
        manifest["schema"] = snap["schema"]
        self._transact(
            "restore",
            manifest,
            t0,
            displaced=[
                p for p in current_files
                if os.path.relpath(p, self.path) not in restored_rel
            ],
            bucket_count=snap.get("bucket_count"),
        )
        # Handle state flips only AFTER the commit (mirrors rebucket): an
        # aborted transaction must leave this handle on the old mapping.
        if manifest["bucket_count"]:
            self.partition_buckets = manifest["bucket_count"]
            self._explicit_buckets = True

    @_write_op
    def delete_keys(self, keys: DataFrame) -> DataFrame:
        """Hard-delete EVERY retained version of the given business keys —
        the GDPR / right-to-be-forgotten path a training-data dimension
        needs.  BUCKET-PRUNED: only the bucket partitions the keys hash
        into are rewritten (an anti-join of each affected bucket's slice
        against the broadcast key set), committed through the same
        generational optimistic transaction as a merge (``op='delete'`` in
        ``history()``) — O(affected buckets) of the table at 100 TB, not a
        full rewrite, and concurrent writers conflict safely instead of
        losing updates.

        ``keys`` carries (at least) the table's ``unique_key`` columns; it
        is deduplicated and broadcast (the big side never shuffles).  An
        empty key set is a no-op.  Deleting keys the table does not hold
        rewrites their buckets to identical content (idempotent).

        Retention note (same story as Delta DELETE): the deleted rows
        remain physically present in OLDER generations' files until those
        fall out of the retention window and vacuum removes them — full
        physical erasure = this delete + ``retain_generations`` further
        commits (or a table created with ``retain_generations=1`` for the
        tightest window).  Unbucketed / legacy tables fall back to a
        full-table rewrite (no bucket map to prune by) via the atomic
        swap path — correct, just unpruned."""
        key_cols = list(self.cfg.unique_key)
        # S5 barrier: the key set is evaluated twice (the bucket-id
        # collect + the anti-join); the write's scope drops it.
        cand = barrier(keys.select(*key_cols).distinct())

        def _anti(target: DataFrame, batch: DataFrame, cfg) -> DataFrame:
            return target.alias("l").join(
                F.broadcast(batch).alias("r"),
                self._key_match_cond("l", "r"),
                "left_anti",
            )

        manifest = self._read_manifest()
        self._adopt_bucket_count(manifest)
        if (
            self.partition_buckets
            and manifest is not None
            and manifest.get("schema")
            and "gen" in manifest
        ):
            self._build_bucketed_incremental(
                cand, manifest=manifest, merge_fn=_anti, op="delete"
            )
            return
        if not self.exists():
            raise ValueError(
                f"delete_keys() on a table that does not exist: {self.path}"
            )
        # An empty key set is the same no-op the bucketed path gets from
        # its empty affected-bucket set — never a full rewrite for nothing.
        if cand.limit(1).count():
            self._atomic_write(_anti(self.read(), cand, self.cfg), prior_manifest=manifest)

    def vacuum(self, retain_generations: int | None = None) -> int:
        """Explicit maintenance sweep — Delta's ``VACUUM`` in miniature:
        immediately delete every superseded file whose displacing commit
        is at or before ``gen - retain``, optionally OVERRIDING the
        table's recorded retention for this one sweep (the recorded
        property itself is untouched).  ``retain_generations=0`` erases
        everything not referenced by the CURRENT manifest — the
        physical-erasure completion of :meth:`delete_keys` without
        waiting for further commits (Delta's ``VACUUM ... RETAIN 0
        HOURS``, with the same warning: readers planned against older
        manifests lose their snapshot guarantee, and time travel to the
        swept generations stops resolving — their snapshot manifests are
        expired with their files).  With no argument the sweep honors the
        recorded retention, so it only collects what the next commit
        would have collected anyway (safe on a live table).

        Runs under the commit lock so it cannot race a writer's commit
        choreography; in degraded (no-flock) mode the sweep is SKIPPED
        entirely and 0 is returned — without the lock the ledger rewrite
        could clobber a rival's commit, and skipping is the loss-free
        option (the same policy as every destructive maintenance path).
        O(superseded files), never O(table).  Returns the number of
        files removed."""
        if retain_generations is not None and retain_generations < 0:
            raise ValueError("retain_generations must be >= 0")
        removed = 0
        with self._commit_lock() as locked:
            if not locked:
                return 0
            manifest = self._read_manifest()
            if manifest is None or "gen" not in manifest:
                return 0
            manifest.setdefault("superseded", {})
            gen = manifest["gen"]
            before = json.dumps(manifest["superseded"], sort_keys=True)
            removed = self._vacuum(
                manifest, gen, retain_override=retain_generations
            )
            if json.dumps(manifest["superseded"], sort_keys=True) != before:
                # Lock held since the manifest read: the shrunk ledger
                # cannot clobber a rival's newer commit.
                self._write_manifest(manifest)
            if retain_generations is not None:
                # Expire snapshot manifests past the override window.
                self._expire_snapshots(gen - retain_generations)
        if removed:
            self.spark.catalog.refreshByPath(self.path)
        return removed

    def _atomic_write(
        self,
        df: DataFrame,
        txn_epoch: int | None = None,
        txn_app: str = "default",
        prior_manifest: dict | None = None,
    ) -> None:
        tmp = self.path + "__tmp"
        data_schema_json = df.schema.json()
        writer = df.write.mode("overwrite")
        if self.partition_buckets:
            df = df.withColumn(BUCKET_COL, self._bucket_expr(df))
            # One ~50k-row file per bucket dir; without the co-locating
            # repartition the initial build writes up to tasks×buckets
            # small files and every incremental merge pays an O(files)
            # listing of the whole table (see _transact).
            df = df.repartition(self.partition_buckets, F.col(BUCKET_COL))
            writer = df.write.mode("overwrite").partitionBy(BUCKET_COL)
        writer.parquet(tmp)
        if self.partition_buckets:
            # Seed the partition manifest INSIDE the staging dir, BEFORE
            # the rename: data, manifest, meta, and the recorded stream
            # epoch all become visible in the ONE atomic rename — a crash
            # can never expose a committed table missing its epoch record
            # (under which a streamed initial load's replay would
            # double-apply).  The full listing here is proportional to the
            # write that just happened, not to future merges.
            seeded = self._scan_full_manifest(data_schema_json, root=tmp)
            # TABLE properties survive a full refresh (Delta preserves
            # table properties and txnAppId/txnVersion pairs across
            # overwrites): `retain` keeps the recorded window instead of
            # reverting to the default, the per-app `txn` map is carried
            # forward and merged — dropping it would void every OTHER
            # stream's exactly-once replay protection (their next replayed
            # epoch would re-merge) — and the generation counter stays
            # monotonic so a pre-refresh `read_at_gen(G)` can never be
            # silently served some unrelated post-refresh generation G.
            if prior_manifest is not None:
                seeded["gen"] = max(
                    seeded.get("gen", 0), prior_manifest.get("gen", 0) + 1
                )
            self._stamp(
                seeded,
                "create",
                txn={txn_app: txn_epoch} if txn_epoch is not None else None,
                prior=prior_manifest,
            )
            for name in (MANIFEST, _snapshot_name(seeded.get("gen", 0))):
                _dump_json(os.path.join(tmp, name), seeded)
        self._write_meta(tmp)
        old = self.path + "__old"
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)


def scd_build(
    spark: SparkSession,
    model_df: DataFrame,
    path: str,
    cfg: ScdConfig | None = None,
    full_refresh: bool = False,
    merge_fn=None,
    **config_kwargs,
) -> DataFrame:
    """One-shot functional entry point (≡ one ``dbt run`` of an scd model)."""
    if cfg is None:
        from .config import resolve_config

        cfg = resolve_config(**config_kwargs)
    return ScdTable(spark, path, cfg, merge_fn=merge_fn).build(
        model_df, full_refresh=full_refresh
    )
