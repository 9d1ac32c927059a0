"""The fused SCD2 invariant suite: ``scd2_invariant_suite`` decides in one
window pass which checks could be violated, returns each such check's
standalone frame unchanged and an empty frame for the rest.  Pinned here:
every returned frame equals its standalone twin (per-check corruptions and
seeded random ones), and a clean table costs one query with one key
shuffle, after which no returned frame scans the table."""

from __future__ import annotations

import random
import re
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_scd2_utils_spark import ScdConfig
from dbt_scd2_utils_spark.operators import invariants as inv
from dbt_scd2_utils_spark.plans.build import ScdTable
from tests.fixtures.seeds import CUSTOMERS_RAW, CUSTOMERS_SCHEMA
from tests.test_watermark_stats import _jobs

KEYS = ("tenant", "id")
CFG = ScdConfig(unique_key=KEYS, deleted_at_column="deleted_at")
SCHEMA = (
    "tenant string, id int, _valid_from timestamp, _valid_to timestamp, "
    "_is_current boolean, _change_type string, deleted_at timestamp"
)
HI = datetime(9999, 12, 31)


def T(day: int) -> datetime:
    return datetime(2024, 1, day)


def _standalone(df: DataFrame, cfg: ScdConfig) -> dict[str, DataFrame]:
    """Each check called on its own, the way the suite's frames are defined."""
    keys = list(cfg.unique_key)
    vf, vt = cfg.valid_from_column, cfg.valid_to_column
    ct, cur = cfg.change_type_column, cfg.is_current_column
    return {
        "one_current_per_key": inv.one_current_per_key(df, keys, cur),
        "no_validity_overlaps": inv.no_validity_overlaps(df, keys, vf, vt),
        "continuous_validity_windows": inv.continuous_validity_windows(df, keys, vf, vt),
        "latest_row_is_current": inv.latest_row_is_current(df, keys, vf, cur),
        "first_record_not_update": inv.first_record_not_update(df, keys, vf, ct),
        "insert_follows_delete": inv.insert_follows_delete(df, keys, vf, ct),
        "no_consecutive_inserts_or_deletes": inv.no_consecutive_inserts_or_deletes(
            df, keys, vf, ct
        ),
        "valid_window_well_formed": inv.valid_window_well_formed(df, vf, vt),
        "no_records_after_deletion": inv.no_records_after_deletion(
            df, keys, cfg.deleted_at_column, vf, ct
        ),
    }


def _bags(*suites: dict[str, DataFrame]) -> list[Counter]:
    """Each dict of frames as one multiset of (check, row-as-JSON), all
    from a single collect."""
    tagged = [
        f.select(F.lit(i).alias("i"), F.lit(n).alias("check"),
                 F.to_json(F.struct(*f.columns)).alias("row"))
        for i, frames in enumerate(suites)
        for n, f in frames.items()
    ]
    bags = [Counter() for _ in suites]
    for i, check, row in reduce(DataFrame.unionAll, tagged).collect():
        bags[i][(check, row)] += 1
    return bags


def _clean_rows():
    """Three keys with a consistent history: I→U→U, I→D, I→D→I."""
    return [
        ["a", 1, T(1), T(2), False, "I", None],
        ["a", 1, T(2), T(3), False, "U", None],
        ["a", 1, T(3), HI, True, "U", None],
        ["a", 2, T(1), T(2), False, "I", None],
        ["a", 2, T(2), HI, True, "D", T(2)],
        ["b", 1, T(1), T(2), False, "I", None],
        ["b", 1, T(2), T(3), False, "D", T(2)],
        ["b", 1, T(3), HI, True, "I", None],
    ]


def _corrupt(i: int, col: int, value):
    rows = _clean_rows()
    rows[i][col] = value
    return rows


# Each check's corruption of the clean rows, and the checks it violates.
# Where the check cannot fail alone, the companion is named: a second
# current row is never the latest one, and continuity plus well-formed
# windows rule out overlaps.
CORRUPTIONS = {
    "one_current_per_key": (
        _corrupt(1, 4, True), {"one_current_per_key", "latest_row_is_current"}),
    "no_validity_overlaps": (
        _corrupt(0, 3, T(3)), {"no_validity_overlaps", "continuous_validity_windows"}),
    "continuous_validity_windows": (
        _corrupt(7, 2, T(4)), {"continuous_validity_windows"}),
    "latest_row_is_current": (_corrupt(2, 4, False), {"latest_row_is_current"}),
    "first_record_not_update": (_corrupt(0, 5, "U"), {"first_record_not_update"}),
    # D→X breaks only "after a D comes I or D"; D→U would also be a
    # forbidden bigram
    "insert_follows_delete": (_corrupt(7, 5, "X"), {"insert_follows_delete"}),
    "no_consecutive_inserts_or_deletes": (
        _corrupt(1, 5, "I"), {"no_consecutive_inserts_or_deletes"}),
    "valid_window_well_formed": (_corrupt(2, 3, None), {"valid_window_well_formed"}),
    "no_records_after_deletion": (_corrupt(4, 6, T(4)), {"no_records_after_deletion"}),
}


def _random_rows(rng: random.Random) -> list[list]:
    """A clean history of a few keys, then a handful of corruptions: null
    and tied valid_from, null valid_to, null key parts, duplicated rows,
    flipped current flags, changed change types and deleted_at."""
    rows = []
    for k in range(rng.randint(2, 5)):
        tenant, kid = rng.choice("ab"), k
        day, cts = 1, ["I"]
        for _ in range(rng.randint(0, 3)):
            cts.append("D" if cts[-1] in "IU" and rng.random() < 0.3
                       else "I" if cts[-1] == "D" else "U")
        for j, ct in enumerate(cts):
            end = day + rng.randint(1, 3)
            last = j == len(cts) - 1
            rows.append([tenant, kid, T(day), HI if last else T(end), last, ct,
                         T(day) if ct == "D" else None])
            day = end
    for _ in range(rng.randint(0, 4)):
        i = rng.randrange(len(rows))
        what = rng.randrange(9)
        if what == 0:
            rows[i][2] = None                       # null valid_from
        elif what == 1:
            rows[i][2] = rows[rng.randrange(len(rows))][2]  # tie, or a move
        elif what == 2:
            rows[i][3] = None                       # null valid_to
        elif what == 3:
            rows[i][rng.randrange(2)] = None        # null key part
        elif what == 4:
            rows.append(list(rows[i]))              # duplicated row
        elif what == 5:
            rows[i][4] = not rows[i][4]             # current flag
        elif what == 6:
            rows[i][5] = rng.choice("IUD")          # change type
        elif what == 7:
            rows[i][6] = T(rng.randint(1, 9))       # deleted_at
        elif rows[i][3] not in (None, HI):
            rows[i][3] += timedelta(days=rng.randint(-2, 2))  # gap or overlap
    return rows


def _null_valid_from_rows():
    """The clean rows, but the first version's valid_from is null and its
    valid_to is the far future."""
    rows = _clean_rows()
    rows[0][2], rows[0][3] = None, HI
    return rows


SEEDS = range(30)
CASES = {
    "clean": _clean_rows(),
    "null_valid_from": _null_valid_from_rows(),
    **{f"check_{n}": rows for n, (rows, _) in CORRUPTIONS.items()},
    **{f"seed_{s}": _random_rows(random.Random(s)) for s in SEEDS},
}


@pytest.fixture(scope="module")
def case(spark, tmp_path_factory):
    """Every case written once, as one parquet file per case.  A single
    input partition keeps the row order inside a tied valid_from the same
    across executions, so two runs of an order-dependent check agree."""
    path = str(tmp_path_factory.mktemp("invariant_suite") / "cases")
    rows = [(name, *r) for name, rs in CASES.items() for r in rs]
    (spark.createDataFrame(rows, f"case string, {SCHEMA}")
     .coalesce(1).write.partitionBy("case").parquet(path))
    return lambda name: spark.read.parquet(f"{path}/case={name}")


def test_clean_fixture_passes_every_check(case):
    df = case("clean")
    assert _bags(inv.scd2_invariant_suite(df, CFG), _standalone(df, CFG)) == [
        Counter(), Counter()]


@pytest.mark.parametrize("check", sorted(CORRUPTIONS))
def test_each_check_flags_its_corruption(case, check):
    df = case(f"check_{check}")
    suite = inv.scd2_invariant_suite(df, CFG)
    assert set(suite) == set(CORRUPTIONS)
    got, want = _bags(suite, _standalone(df, CFG))
    assert {n for n, _ in want} == CORRUPTIONS[check][1]
    assert got == want


def test_null_valid_from_row_does_not_flag_overlaps(case):
    """A null valid_from sorts first in the key's window, but the overlap
    self-join never pairs it, so its far valid_to must not flag the
    check: the suite's overlap frame plans no join and still equals the
    standalone frame."""
    df = case("null_valid_from")
    suite = inv.scd2_invariant_suite(df, CFG)
    plan = suite["no_validity_overlaps"]._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    got, want = _bags(suite, _standalone(df, CFG))
    assert got == want


def test_random_corruptions_match_standalone(case):
    """Seeded property over SEEDS tables, four at a time: the cost is per
    query, not per row, and concurrent queries share the executors."""

    def matches(seed):
        df = case(f"seed_{seed}")
        got, want = _bags(inv.scd2_invariant_suite(df, CFG), _standalone(df, CFG))
        return got == want

    with ThreadPoolExecutor(4) as pool:
        results = dict(zip(SEEDS, pool.map(matches, SEEDS)))
    assert all(results.values()), [s for s, ok in results.items() if not ok]


def _final_plan_nodes(description: str) -> list[tuple[str, str]]:
    """(operator, details) for each node of an adaptive execution's final
    plan, from its formatted physical-plan description."""
    tree = description.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    details = dict(re.findall(r"\n\((\d+)\) [^\n]*\n(.*?)(?=\n\n)", description, re.S))
    return [(op, details.get(i, "")) for op, i in re.findall(r"(\w+) \((\d+)\)", tree)]


def test_clean_bucketed_read_costs_one_query_and_no_scan(spark, tmp_path):
    """On a healthy bucketed table the suite submits exactly one query:
    one hash exchange on the key, one sort, one window, no join.  Every
    returned frame is then an empty local relation: no file scan."""
    cfg = ScdConfig(unique_key=("customer_id",), deleted_at_column="deleted_at")
    t = ScdTable(spark, str(tmp_path / "clean"), cfg, partition_buckets=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    table = t.read()

    with _jobs(spark) as jobs:
        suite = inv.scd2_invariant_suite(table, cfg)
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    ran = [
        e for e in (executions.apply(i) for i in range(executions.size()))
        if any(e.jobs().contains(j) for j in jobs)
    ]
    assert len(ran) == 1, f"expected one query, got {len(ran)} for jobs {jobs}"
    assert all(ran[0].jobs().contains(j) for j in jobs)

    nodes = _final_plan_nodes(ran[0].physicalPlanDescription())
    exchanges = [d for op, d in nodes if op == "Exchange"]
    hashed = [d for d in exchanges if "hashpartitioning(" in d]
    assert len(hashed) == 1, exchanges
    assert re.search(r"hashpartitioning\(customer_id#\d+, \d+\)", hashed[0]), hashed[0]
    assert all("SinglePartition" in d for d in exchanges if d not in hashed)
    ops = [op for op, _ in nodes]
    assert ops.count("Window") == 1 and ops.count("Sort") == 1, ops
    assert not any("Join" in op for op in ops), ops

    assert len(suite) == 9
    for name, frame in suite.items():
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan and "Scan parquet" not in plan, (name, plan)
        assert frame.count() == 0
