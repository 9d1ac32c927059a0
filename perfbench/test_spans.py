"""Fast self-check of the benchmark's own code (no Spark session):
event-log parsing and attribution, self-time and interval arithmetic, and
the seeded generator.  Run with ``python3 -m pytest perfbench -q``.

``fixtures/eventlog_tiny.jsonl`` is a recorded PySpark 4.1 event log of
seven jobs (two job groups, ``g1`` and ``g2``, then two ungrouped jobs),
trimmed to the fields the parser reads.
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402
import spans as sp  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_tiny.jsonl")


def test_event_log_jobs_and_groups():
    jobs = sp.parse_event_log(FIXTURE)
    assert sorted(jobs) == list(range(7))
    groups = sp.by_group(jobs)
    assert sorted(groups) == ["g1", "g2"]
    assert len(groups["g1"]) == 2 and len(groups["g2"]) == 3
    assert jobs[5].group is None and jobs[6].group is None
    assert jobs[0].start == pytest.approx(1792174646.233)
    assert jobs[0].end == pytest.approx(1792174646.642)


def test_event_log_stages_tasks_and_metrics():
    jobs = sp.parse_event_log(FIXTURE)
    # job 1 lists stages [1, 2] but stage 1 was skipped (shuffle reuse)
    assert [jobs[j].stages for j in range(7)] == [1, 1, 1, 1, 1, 1, 1]
    assert [jobs[j].tasks for j in range(7)] == [2, 1, 2, 2, 1, 2, 1]
    assert jobs[0].shuffle_write_bytes == 563
    assert jobs[1].shuffle_read_bytes == 563
    assert jobs[0].executor_cpu_s == pytest.approx(0.170020034)
    assert jobs[0].max_task_s == pytest.approx(0.250)
    assert jobs[3].max_task_s == pytest.approx(0.184)


def test_rolling_event_log_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    with open(FIXTURE) as f:
        lines = f.readlines()
    half = len(lines) // 2
    (d / "events_2_local-1").write_text("".join(lines[half:]))
    (d / "events_1_local-1").write_text("".join(lines[:half]))
    (d / "appstatus_local-1").write_text("")
    assert sp.find_event_log(str(tmp_path)) == str(d)
    flat, rolled = sp.parse_event_log(FIXTURE), sp.parse_event_log(str(d))
    assert flat == rolled


def test_rollup_of_a_group():
    jobs = sp.parse_event_log(FIXTURE)
    g1 = sp.by_group(jobs)["g1"]
    lo, hi = 1792174646.200, 1792174647.000
    r = sp.rollup(g1, lo, hi)
    busy = (646.642 - 646.233) + (646.910 - 646.733)
    assert r["jobs"] == 2 and r["tasks"] == 3 and r["stages"] == 2
    assert r["exec_s"] == pytest.approx(busy)
    assert r["driver_gap_s"] == pytest.approx((hi - lo) - busy)
    assert r["shuffle_write_bytes"] == 563 and r["shuffle_read_bytes"] == 563
    assert r["max_task_s"] == pytest.approx(0.250)


def test_covered_merges_and_clips():
    assert sp.covered([]) == 0.0
    assert sp.covered([(1, 3), (2, 5), (8, 12)]) == 8
    assert sp.covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert sp.covered([(4, 6), (0, 1)], 2, 3) == 0


def test_self_time_subtracts_child_cover():
    parent = sp.Span("p", "op0", None, 0.0, 10.0)
    kids = [
        sp.Span("a", "op1", "op0", 1.0, 3.0),
        sp.Span("b", "op2", "op0", 2.0, 5.0),  # overlaps a
        sp.Span("c", "op3", "op0", 8.0, 12.0),  # runs past the parent
        sp.Span("d", "op4", "op1", 1.5, 2.5),  # grandchild: not subtracted twice
    ]
    tree = sp.children([parent] + kids)
    assert sp.self_time(parent, tree) == pytest.approx(4.0)
    assert sp.self_time(kids[0], tree) == pytest.approx(1.0)
    assert {s.op_id for s in sp.subtree(parent, tree)} == {"op0", "op1", "op2", "op3", "op4"}


def test_tracer_without_spark_only_reads_the_clock():
    t = sp.Tracer()
    with t.span("outer"):
        with t.span("inner", api="read"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.op_id and outer.parent is None
    assert inner.attrs == {"api": "read"} and inner.jobs == []
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_report_metrics_follow_benchmark_json():
    run = SimpleNamespace(setup_s=3.0, steps=[2.0, 1.0, 4.0])
    assert report.end_to_end(run) == {"setup_s": 3.0, "step_p50_s": 2.0}
    assert set(report.end_to_end(run)) == set(report.END_TO_END)
    assert not set(report.BACKFILL_ONLY) & set(report.PER_LAYER)


SPEC = gen.FeedSpec(n_keys=300, zipf_s=0.8, history_versions=4, batches=5, batch_rows=60)


def test_generator_is_seeded():
    a, b, c = gen.generate(SPEC, 5), gen.generate(SPEC, 5), gen.generate(SPEC, 6)
    assert a.history.equals(b.history) and a.landing.equals(b.landing)
    assert not a.history.equals(c.history)
    assert gen.second_dimension(SPEC, 5).equals(gen.second_dimension(SPEC, 5))
    assert gen.facts(SPEC, 5, 100).equals(gen.facts(SPEC, 5, 100))


def test_generator_feed_properties():
    f = gen.generate(SPEC, 7)
    loaded = f.landing.column("_loaded_at").cast("int64").to_numpy()
    assert set(loaded) <= set(f.batch_loaded_at_us)
    assert sum(f.batch(i).num_rows for i in range(SPEC.batches)) == f.landing.num_rows
    # late rows: dated before the initial load, delivered in a landing batch
    updated = f.landing.column("_updated_at").cast("int64").to_numpy()
    assert (updated < f.history_loaded_at_us).any()
    # deletes carry deleted_at == _updated_at
    for t in (f.history, f.landing):
        deleted = t.filter(pc.is_valid(t.column("deleted_at")))
        assert deleted.num_rows > 0
        assert deleted.column("deleted_at").equals(deleted.column("_updated_at"))
    # some keys carry a NULL part, and key tuples stay distinct per version
    assert f.history.column("tenant").null_count > 0
    keys = f.history.select(["tenant", "customer_id", "_updated_at"]).to_pylist()
    assert len({tuple(k.values()) for k in keys}) == len(keys)


def test_parquet_bytes_matches_written_file(tmp_path):
    t = gen.generate(SPEC, 3).history
    assert gen.parquet_bytes(t) == gen.write(t, str(tmp_path / "h.parquet"))
