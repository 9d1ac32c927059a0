"""The three workloads: set-up, the timed closed loop, and the gates.

Every timed call goes through the engine's public API.  One client makes
sequential calls (a closed loop); Spark's own threads are the only
concurrency.  ``Run`` collects what the report needs: per-operation wall
times, spans, layer samples read from public state after each call, and
the outcome of every operation and gate.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
from pyspark.sql import functions as F

import gates
import gen
from dbt_scd2_utils_spark import (
    ScdConfig,
    ScdTable,
    asof_join,
    high_water_mark,
    incremental_source,
    scd2_diff,
    scd2_incremental_adaptive,
    scd2_join,
    scd_build,
    snapshot_at,
)
from dbt_scd2_utils_spark.operators.invariants import (
    assert_invariants,
    scd2_invariant_suite,
)
from dbt_scd2_utils_spark.plans.oracles import (
    OracleSpec,
    scd2_initial_load_sql,
    scd2_join_sql,
)

KEYS = list(gen.KEY_COLS)
CFG = ScdConfig(
    unique_key=gen.KEY_COLS,
    deleted_at_column="deleted_at",
    change_columns_exclude=("_loaded_at",),
)
DIM2_CFG = ScdConfig(unique_key=gen.KEY_COLS)
TABLE_COLS = list(gen.FEED_COLS) + ["_is_current", "_valid_from", "_valid_to", "_change_type"]
ORACLE = OracleSpec(
    keys=KEYS,
    business_cols=list(gen.FEED_COLS),
    updated_at="_updated_at",
    check_cols=["name", "tier", "balance_cents", "deleted_at"],
    deleted_at="deleted_at",
)
WARMUP_COMMITS = 1  # cdc_churn: commits in set-up
SETUP_COMMITS = 2  # temporal_reads: churn commits in set-up


@dataclass(frozen=True)
class Sizes:
    feed: gen.FeedSpec
    buckets: int = 8
    retain: int = 4
    salts: int = 8
    hot_key_threshold: int = 300
    facts: int = 20_000
    lookup_keys: int = 55
    max_steps: int = 1_000


SIZES = {
    "cdc_churn": Sizes(
        gen.FeedSpec(n_keys=2000, zipf_s=0.0, history_versions=4, batches=40, batch_rows=300),
    ),
    "skewed_backfill": Sizes(
        gen.FeedSpec(n_keys=1000, zipf_s=1.1, history_versions=10, batches=1,
                     batch_rows=10_000, load_step_s=30 * 86_400),
    ),
    "temporal_reads": Sizes(
        gen.FeedSpec(n_keys=2000, zipf_s=0.8, history_versions=5, batches=3, batch_rows=300),
        retain=8,
    ),
}
SMOKE = {
    "cdc_churn": Sizes(
        gen.FeedSpec(n_keys=200, zipf_s=0.0, history_versions=3, batches=3, batch_rows=40),
        buckets=4, max_steps=1,
    ),
    "skewed_backfill": Sizes(
        gen.FeedSpec(n_keys=100, zipf_s=1.1, history_versions=5, batches=1,
                     batch_rows=500, load_step_s=30 * 86_400),
        salts=4, hot_key_threshold=40, max_steps=1,
    ),
    "temporal_reads": Sizes(
        gen.FeedSpec(n_keys=200, zipf_s=0.8, history_versions=3, batches=2, batch_rows=40),
        buckets=4, retain=8, facts=500, lookup_keys=10, max_steps=1,
    ),
}


class Run:
    """One run of one workload."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, sizes: Sizes,
                 started: float):
        self.spark, self.sc, self.tracer = spark, spark.sparkContext, tracer
        self.started = started  # perf_counter at the start of set-up
        self.setup_s = 0.0
        self.table_rows = 0
        self.traced = tracer.enabled
        self.work, self.seed, self.seconds, self.sizes = work, seed, seconds, sizes
        self.timing = False
        self.ops: dict[str, list[float]] = defaultdict(list)  # timed op -> seconds
        self.steps: list[float] = []
        self.step_rows: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.storage_mb: list[float] = []
        self.samples: dict[str, list[float]] = defaultdict(list)  # layer readings
        self.input_bytes = 0
        self.written_bytes = 0
        self.window = (0.0, 0.0)
        self.inputs: dict[str, dict] = {}  # name -> rows / bytes, for the record

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def routed(self, routes: list) -> None:
        """Keys the adaptive merge sent down the salted route, per call."""
        self.samples["operators.scd2_salted.keys_routed_salted"].append(
            sum(k for route, k in routes if route == "salted"))

    def setup_end(self) -> None:
        self.setup_s = time.perf_counter() - self.started

    @contextmanager
    def op(self, name: str):
        """One end-to-end operation; recorded only inside the timed loop."""
        if self.timing:
            self.attempted += 1
        with self.span(name) as s:
            yield s
        if self.timing:
            self.ops[name].append(s.seconds)
            infos = self.sc._jsc.sc().getRDDStorageInfo()
            self.storage_mb.append(sum(i.memSize() for i in infos) / 2**20)

    def loop(self, step) -> None:
        """The closed loop: ``step(i)`` after ``step(i-1)`` until ``seconds``
        have passed; the last step may end after that."""
        self.timing = True
        t0 = time.time()
        for i in range(self.sizes.max_steps):
            s0 = time.perf_counter()
            try:
                with self.span("step"):
                    rows = step(i)
            except Exception:
                self.failed += 1
                traceback.print_exc()
                break
            if rows is None:  # inputs exhausted
                break
            self.steps.append(time.perf_counter() - s0)
            self.step_rows.append(rows)
            if time.time() - t0 >= self.seconds:
                break
        self.window = (t0, time.time())
        self.timing = False

    def gate(self, name: str, check) -> None:
        """``check()`` returns "" when the gate holds, else what is wrong."""
        self.attempted += 1
        try:
            problem = check()
        except Exception:
            problem = traceback.format_exc()
        if problem:
            self.failed += 1
            print(f"gate {name} FAILED: {problem}", file=sys.stderr)

    def consume(self, layer: str, dfs) -> None:
        """Execute ``dfs`` through the no-op sink; the traced run first
        forces Catalyst planning in a span of its own."""
        if self.traced:
            with self.span(layer + ".plan"):
                for df in dfs:
                    df._jdf.queryExecution().executedPlan()
        with self.span(layer + ".exec"):
            for df in dfs:
                df.write.format("noop").mode("overwrite").save()

    def read(self, tbl: ScdTable, api: str = "read", *args):
        with self.span("plans.build.read", api=api):
            return getattr(tbl, api)(*args)

    def merge_fn(self, strategy):
        """``strategy`` behind the public ``merge_fn`` seam, in a span."""

        def merge(target, batch, cfg):
            with self.span("operators.merge_fn"):
                out = strategy(target, batch, cfg)
                if self.traced:
                    with self.span("operators.merge.plan"):
                        out._jdf.queryExecution().executedPlan()
            return out

        return merge


def files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            out[os.path.join(root, n)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> int:
    return sum(v[0] for k, v in after.items() if before.get(k) != v)


def layout(run: Run, tbl: ScdTable) -> None:
    """Table layout after the timed loop: files on disk, live files per
    bucket (from the committed manifest) and retained generations."""
    run.samples["plans.build.table_files"].append(
        sum(1 for p in files(tbl.path) if p.endswith(".parquet"))
    )
    try:
        with open(os.path.join(tbl.path, "_scd_manifest.json")) as f:
            buckets = json.load(f).get("buckets") or {}
    except OSError:
        buckets = {}
    run.samples["plans.build.files_per_bucket_max"].append(
        max((len(e.get("paths", [])) for e in buckets.values()), default=0)
    )
    run.samples["plans.build.generations_retained"].append(tbl.history().count())


def _ts(us: int) -> datetime:
    return datetime.fromtimestamp(us / gen.US, timezone.utc)


def _oracle_gate(run: Run, table_df, sources: list[str], max_loaded_us: int | None = None):
    """The table equals the DuckDB re-derivation of a full refresh over
    every source row loaded up to ``max_loaded_us``, and holds the SCD2
    invariants."""

    def check():
        src = " union all ".join(f"select * from read_parquet('{p}')" for p in sources)
        if max_loaded_us is not None:
            src = f"select * from ({src}) where epoch_us(_loaded_at) <= {max_loaded_us}"
        with gates.duck(run.work) as con:
            want = gates.canonical_duck(con, scd2_initial_load_sql(src, ORACLE), TABLE_COLS)
        return gates.diff_summary(gates.canonical_spark(table_df, TABLE_COLS), want)

    run.gate("incremental_equals_full_refresh", check)
    run.gate("invariants", lambda: assert_invariants(table_df, CFG) or "")


# -- churn: shared by cdc_churn (timed) and temporal_reads (set-up) ----------


class Churn:
    """A bucketed ``ScdTable`` fed by ``incremental_source`` batches."""

    def __init__(self, run: Run, feed: gen.Feed, sizes: Sizes):
        self.run, self.feed = run, feed
        inp = os.path.join(run.work, "input")
        self.history_path = os.path.join(inp, "history.parquet")
        self.landing_path = os.path.join(inp, "landing.parquet")
        run.inputs["history"] = {"rows": feed.history.num_rows,
                                 "bytes": gen.write(feed.history, self.history_path)}
        run.inputs["landing"] = {"rows": feed.landing.num_rows,
                                 "bytes": gen.write(feed.landing, self.landing_path)}
        batches = [feed.batch(i) for i in range(len(feed.batch_loaded_at_us))]
        self.batch_bytes = [gen.parquet_bytes(b) for b in batches]
        self.batch_rows = [b.num_rows for b in batches]
        # The skew-adaptive strategy at its default threshold: uniform keys
        # are never hot, so every merge takes the plain route after the
        # hot-key count (the gate checks the route log).
        self.routes: list = []
        self.tbl = ScdTable(
            run.spark, os.path.join(run.work, "dim"), CFG,
            partition_buckets=sizes.buckets, retain_generations=sizes.retain,
            merge_fn=run.merge_fn(functools.partial(
                scd2_incremental_adaptive, route_log=self.routes)),
        )
        self.landing = run.spark.read.parquet(self.landing_path)
        self.next_batch = 0
        self.watermark_ok = True

    def initial_build(self) -> None:
        with self.run.span("plans.build.initial"):
            self.tbl.build(self.run.spark.read.parquet(self.history_path))

    def commit(self) -> int | None:
        """One ``dbt run``: watermark, incremental source, build + commit.
        Returns the batch's row count, or None when no batch is left."""
        i, run = self.next_batch, self.run
        if i >= len(self.feed.batch_loaded_at_us):
            return None
        before = files(self.tbl.path) if run.timing else None
        n_routes = len(self.routes)
        with run.op("sources.high_water_mark"):
            hwm = high_water_mark(run.read(self.tbl), "_loaded_at")
        with run.op("sources.incremental_source"):
            batch = incremental_source(
                self.landing, run.read(self.tbl), loaded_at_col="_loaded_at",
                exclude_data_after_run_start=True,
                run_started_at=_ts(self.feed.batch_loaded_at_us[i]),
            )
        with run.op("plans.build.commit"):
            self.tbl.build(batch, txn_epoch=i)
        want = self.feed.batch_loaded_at_us[i - 1] if i else self.feed.history_loaded_at_us
        if hwm is None or int(hwm.replace(tzinfo=timezone.utc).timestamp() * gen.US) != want:
            self.watermark_ok = False
        if run.timing:
            for phase, secs in self.tbl.last_phase_times.items():
                run.samples[f"plans.build.{phase}_s"].append(secs)
            run.routed(self.routes[n_routes:])
            run.written_bytes += written(before, files(self.tbl.path))
            run.input_bytes += self.batch_bytes[i]
        self.next_batch += 1
        return self.batch_rows[i]

    def gates(self) -> None:
        last = self.feed.batch_loaded_at_us[self.next_batch - 1]
        self.run.gate("watermark_advances", lambda: "" if self.watermark_ok else
                      "high_water_mark did not return the previous batch's load time")
        self.run.gate("no_hot_keys", lambda: "" if all(
            r == "plain" for r, _ in self.routes) else f"route_log {self.routes}")
        _oracle_gate(self.run, self.tbl.read(), [self.history_path, self.landing_path], last)


# -- workloads -----------------------------------------------------------------


def cdc_churn(run: Run) -> None:
    sizes = run.sizes
    churn = Churn(run, gen.generate(sizes.feed, run.seed), sizes)
    churn.initial_build()
    for _ in range(WARMUP_COMMITS):
        churn.commit()
    run.setup_end()
    run.loop(lambda i: churn.commit())
    layout(run, churn.tbl)
    churn.gates()
    run.table_rows = churn.tbl.read().count()


def skewed_backfill(run: Run) -> None:
    sizes = run.sizes
    feed = gen.generate(sizes.feed, run.seed)
    inp = os.path.join(run.work, "input")
    first = os.path.join(inp, "first_half.parquet")
    second = os.path.join(inp, "second_half.parquet")
    run.inputs["first_half"] = {"rows": feed.history.num_rows, "bytes": gen.write(feed.history, first)}
    run.inputs["second_half"] = {"rows": feed.landing.num_rows, "bytes": gen.write(feed.landing, second)}
    path = os.path.join(run.work, "dim")
    routes: list = []
    merge = run.merge_fn(functools.partial(
        scd2_incremental_adaptive, salts=sizes.salts,
        hot_key_threshold=sizes.hot_key_threshold, route_log=routes,
    ))
    first_df, second_df = run.spark.read.parquet(first), run.spark.read.parquet(second)
    rows = feed.history.num_rows + feed.landing.num_rows

    def step(i):
        before = files(path)
        with run.op("plans.build.full_refresh"):
            scd_build(run.spark, first_df, path, CFG, full_refresh=True)
        n = len(routes)
        with run.op("plans.build.commit"):  # the bulk merge
            scd_build(run.spark, second_df, path, CFG, merge_fn=merge)
        if run.timing:
            run.routed(routes[n:])
            run.written_bytes += written(before, files(path))
            run.input_bytes += sum(run.inputs[h]["bytes"] for h in ("first_half", "second_half"))
        return rows

    step(-1)  # warm-up backfill
    run.setup_end()
    run.loop(step)
    tbl = ScdTable(run.spark, path, CFG)
    layout(run, tbl)
    run.gate("both_merge_routes_ran", lambda: "" if routes and all(
        r == "salted" and k >= 1 for r, k in routes) else f"route_log {routes}")
    _oracle_gate(run, tbl.read(), [first, second])
    run.table_rows = tbl.read().count()


def temporal_reads(run: Run) -> None:
    sizes, spark = run.sizes, run.spark
    feed = gen.generate(sizes.feed, run.seed)
    churn = Churn(run, feed, sizes)
    churn.initial_build()
    tbl = churn.tbl
    # time travel goes to the oldest set-up commit (retained, not current)
    churn.commit()
    h = tbl.history().orderBy(F.col("gen").desc()).first()
    tt_gen, tt_ts, tt_fingerprint = h["gen"], h["committed_at"], gates.fingerprint(tbl.read())
    for _ in range(SETUP_COMMITS - 1):
        churn.commit()

    inp = os.path.join(run.work, "input")
    dim2_feed = gen.second_dimension(sizes.feed, run.seed)
    facts_tbl = gen.facts(sizes.feed, run.seed, sizes.facts)
    run.inputs["dim2"] = {"rows": dim2_feed.num_rows,
                          "bytes": gen.write(dim2_feed, os.path.join(inp, "dim2.parquet"))}
    run.inputs["facts"] = {"rows": facts_tbl.num_rows,
                           "bytes": gen.write(facts_tbl, os.path.join(inp, "facts.parquet"))}
    dim2_path = os.path.join(run.work, "dim2")
    scd_build(spark, spark.read.parquet(os.path.join(inp, "dim2.parquet")), dim2_path, DIM2_CFG)
    dim2 = ScdTable(spark, dim2_path, DIM2_CFG)
    facts = spark.read.parquet(os.path.join(inp, "facts.parquet"))

    picks = np.random.default_rng(run.seed + 1).choice(
        feed.history.num_rows, size=sizes.lookup_keys, replace=False)
    key_rows = feed.history.select(KEYS).take(picks).to_pylist()
    lookup = spark.createDataFrame(
        [tuple(r[k] for k in KEYS) for r in key_rows], "tenant string, customer_id long")
    t_hist = feed.history_loaded_at_us
    as_of = _ts(gen.T0_US + (t_hist - gen.T0_US) * 2 // 3).strftime("%Y-%m-%d %H:%M:%S")
    diff_from = _ts(gen.T0_US + (t_hist - gen.T0_US) // 3).strftime("%Y-%m-%d %H:%M:%S")
    diff_to = _ts(feed.batch_loaded_at_us[-1]).strftime("%Y-%m-%d %H:%M:%S")
    dim_rows = tbl.read().count()

    def joined():
        d1 = run.read(tbl).select(*KEYS, "tier", "balance_cents", "_valid_from", "_valid_to")
        d2 = run.read(dim2).select(*KEYS, "segment", "credit_limit", "_valid_from", "_valid_to")
        return d1, d2

    def read_mix(i):
        with run.op("point_lookup"):
            run.consume("plans.build.read_keys", [run.read(tbl, "read_keys", lookup)])
        with run.op("time_travel"):
            run.consume("plans.build.read_at_gen", [run.read(tbl, "read_at_gen", tt_gen)])
        with run.op("time_travel"):
            run.consume("plans.build.read_at_timestamp",
                        [run.read(tbl, "read_at_timestamp", tt_ts)])
        layer = "operators.temporal_join.snapshot_at"
        with run.op("snapshot"):
            t = run.read(tbl)
            with run.span(layer):
                df = snapshot_at(t, as_of)
            run.consume(layer, [df])
        layer = "operators.temporal_join.scd2_diff"
        with run.op("cdc_diff"):
            t = run.read(tbl)
            with run.span(layer):
                df = scd2_diff(t, diff_from, diff_to, KEYS)
            run.consume(layer, [df])
        layer = "operators.temporal_join.scd2_join"
        with run.op("temporal_join"):
            d1, d2 = joined()
            with run.span(layer):
                df = scd2_join([d1, d2], KEYS)
            run.consume(layer, [df])
        layer = "operators.asof.asof_join"
        with run.op("asof_join"):
            right = run.read(tbl).select(*KEYS, "tier", "balance_cents", "_valid_from")
            with run.span(layer):
                df = asof_join(facts, right, KEYS, "ordered_at", "_valid_from",
                               right_payload=["tier", "balance_cents"])
            run.consume(layer, [df])
        layer = "operators.invariants.scd2_invariant_suite"
        with run.op("invariants"):
            t = run.read(tbl)
            with run.span(layer):
                suite = scd2_invariant_suite(t, CFG)
            run.consume(layer, list(suite.values()))
        return dim_rows

    read_mix(-1)  # warm-up pass
    run.setup_end()
    run.loop(read_mix)
    layout(run, tbl)

    def lookup_gate():
        full = tbl.read().alias("l").join(
            F.broadcast(lookup).alias("r"),
            (F.col("l.tenant").eqNullSafe(F.col("r.tenant")))
            & (F.col("l.customer_id").eqNullSafe(F.col("r.customer_id"))),
            "left_semi",
        )
        got = gates.canonical_spark(tbl.read_keys(lookup), TABLE_COLS)
        return gates.diff_summary(got, gates.canonical_spark(full, TABLE_COLS))

    def time_travel_gate():
        for what, df in (("read_at_gen", tbl.read_at_gen(tt_gen)),
                         ("read_at_timestamp", tbl.read_at_timestamp(tt_ts))):
            got = gates.fingerprint(df)
            if got != tt_fingerprint:
                return f"{what} fingerprint {got} != {tt_fingerprint} recorded at commit"
        return ""

    def join_gate():
        d1 = tbl.read().select(*KEYS, "tier", "balance_cents", "_valid_from", "_valid_to")
        d2 = dim2.read().select(*KEYS, "segment", "credit_limit", "_valid_from", "_valid_to")
        sql = scd2_join_sql(["select * from r1_in", "select * from r2_in"],
                            [["tier", "balance_cents"], ["segment", "credit_limit"]], KEYS)
        cols = KEYS + ["tier", "balance_cents", "segment", "credit_limit",
                       "_is_current", "_valid_from", "_valid_to"]
        with gates.duck(run.work) as con:
            con.register("r1_in", d1.toArrow())
            con.register("r2_in", d2.toArrow())
            want = gates.canonical_duck(con, sql, cols)
        return gates.diff_summary(gates.canonical_spark(scd2_join([d1, d2], KEYS), cols), want)

    run.gate("read_keys_equals_filtered_read", lookup_gate)
    run.gate("time_travel_fingerprints", time_travel_gate)
    run.gate("scd2_join_equals_oracle", join_gate)
    run.table_rows = dim_rows


WORKLOADS = {
    "cdc_churn": cdc_churn,
    "skewed_backfill": skewed_backfill,
    "temporal_reads": temporal_reads,
}
