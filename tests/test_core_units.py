"""Pure-Python unit tests: list algebra, config resolution, hashing SQL,
incremental source helpers."""

from __future__ import annotations

from datetime import datetime
import os

import pytest
from pyspark.sql import functions as F

from dbt_scd2_utils_spark import ScdConfig, ScdConfigError, resolve_config
from dbt_scd2_utils_spark.functions.hashing import (
    SURROGATE_KEY_NULL,
    surrogate_key_sql,
)
from dbt_scd2_utils_spark.functions.lists import (
    get_from_object,
    is_array,
    list_difference,
    list_intersection,
    list_union,
    prefix_array_elements,
)
from dbt_scd2_utils_spark.sources.incremental import (
    high_water_mark,
    incremental_source,
)


def test_list_algebra_case_insensitive():
    assert list_union(["a", "B"], ["b", "c"], case_insensitive=True) == ["a", "B", "c"]
    assert list_intersection(["A", "b", "c"], ["a", "C"], case_insensitive=True) == ["A", "c"]
    assert list_difference(["A", "b", "C"], ["c"], case_insensitive=True) == ["A", "b"]
    # order-preserving dedupe
    assert list_union(["x", "X", "y"], case_insensitive=True) == ["x", "y"]


def test_is_array_and_prefix():
    assert is_array([1]) and is_array((1,)) and not is_array("ab")
    assert prefix_array_elements(["a", "b"], "p.") == ["p.a", "p.b"]


def test_get_from_object():
    obj = {"a": {"b": [10, {"c": 7}]}}
    assert get_from_object(obj, "a.b.1.c") == 7
    assert get_from_object(obj, "a.z", default="d") == "d"


def test_resolve_config_precedence():
    cfg = resolve_config(
        meta={"is_current_column": "meta_cur"},
        config={"is_current_column": "cfg_cur", "unique_key": ["k"]},
        vars={"valid_from_column": "var_vf"},
    )
    assert cfg.is_current_column == "meta_cur"  # meta beats config
    assert cfg.valid_from_column == "var_vf"  # vars beat default
    assert cfg.valid_to_column == "_valid_to"  # package default


def test_resolve_config_change_columns_new_and_legacy():
    new = resolve_config(
        config={"unique_key": ["k"], "change_columns": {"include": ["a"], "exclude": ["b"]}}
    )
    assert new.change_columns_include == ("a",)
    assert new.change_columns_exclude == ("b",)
    legacy = resolve_config(
        config={
            "unique_key": ["k"],
            "scd_check_columns": ["a"],
            "exclude_columns_from_change_check": ["b"],
        }
    )
    assert legacy.change_columns_include == ("a",)
    assert legacy.change_columns_exclude == ("b",)


def test_check_columns_math():
    cfg = ScdConfig(unique_key=("id",), change_columns_exclude=("noise",))
    dest = ["id", "name", "NOISE", "_updated_at", "_is_current", "x"]
    assert cfg.check_columns(dest) == ["name", "x"]
    inc = ScdConfig(unique_key=("id",), change_columns_include=("name", "ghost"))
    assert inc.check_columns(dest) == ["name"]


def test_collapse_requires_update_all():
    with pytest.warns(UserWarning):
        cfg = ScdConfig(
            unique_key=("k",),
            update_all_previous_records=False,
            collapse_redundant_versions=True,
        ).validate()
    assert cfg.effective_collapse is False
    assert cfg.merge_update_cols == ["_is_current", "_valid_to"]  # no change_type


def test_unique_key_must_be_array():
    with pytest.raises(ScdConfigError, match="must be an array"):
        ScdConfig(unique_key="customer_id").validate()


def test_surrogate_key_sql_rendering():
    sql = surrogate_key_sql(["a", "b"])
    assert "md5" in sql and SURROGATE_KEY_NULL in sql and "concat_ws" in sql
    assert surrogate_key_sql([]) == "md5('')"


def test_surrogate_key_matches_duckdb_shape(spark):
    """Spark surrogate_key and its SQL rendering agree on NULL handling
    (hash VALUES needn't match across engines; null semantics must)."""
    import duckdb

    from dbt_scd2_utils_spark.functions.hashing import surrogate_key

    df = spark.createDataFrame([(1, None), (1, "x")], "a int, b string")
    got = [r[0] for r in df.select(surrogate_key(["a", "b"])).collect()]
    duck = duckdb.sql(
        f"select {surrogate_key_sql(['a', 'b'])} from (values (1, NULL), (1, 'x')) t(a, b)"
    ).fetchall()
    assert got == [d[0] for d in duck]  # md5 of identical strings → identical


def test_high_water_mark_and_incremental_source(spark):
    src = spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (2, datetime(2024, 1, 2)), (3, datetime(2024, 1, 3))],
        "id int, _loaded_at timestamp",
    )
    assert high_water_mark(None, "_loaded_at") == datetime(1900, 1, 1)
    target = src.filter(F.col("id") <= 2)
    assert high_water_mark(target, "_loaded_at") == datetime(2024, 1, 2)
    out = incremental_source(src, target, loaded_at_col="_loaded_at")
    assert [r["id"] for r in out.collect()] == [3]
    # initial load (no target) → unfiltered
    assert incremental_source(src, None, loaded_at_col="_loaded_at").count() == 3
    # run-start cutoff
    cut = incremental_source(
        src,
        None,
        loaded_at_col="_loaded_at",
        exclude_data_after_run_start=True,
        run_started_at=datetime(2024, 1, 2, 12),
    )
    assert cut.count() == 2


def test_release_entry_caches_frees_query_layer(spark):
    """A full driver session must be releasable: per-query persists
    route through the shared registry and the memo caches
    (_MERGE_TARGET_CACHE/_INDEX_CACHE) are cleared+unpersisted by
    entry.release_entry_caches (round-6 VERDICT hygiene item)."""
    from dbt_scd2_utils_spark import entry as em
    from dbt_scd2_utils_spark.functions import caching

    em.release_entry_caches()  # clean slate
    sf = "/root/testdata/sf0.001"
    em.q_scd2_diff_cdc(spark, sf).count()          # per-query barrier
    em._staged_target(spark, sf, em.SCD2_CFG, "collapse")  # memo cache
    assert len(caching._LIVE_CACHES) >= 1
    assert len(em._MERGE_TARGET_CACHE) == 1
    # The one-shot queries that write their input before reading it back
    # stage through the same registry.
    memo_dirs = len(em._STAGED_DIRS)
    for q in (em.q_jsonl_roundtrip, em.q_events_partition_pruned,
              em.q_invariant_store_failures):
        q(spark, sf).count()
    assert len(em._STAGED_DIRS) == memo_dirs + 3
    staged = list(em._STAGED_DIRS)
    assert staged and all(os.path.isdir(d) for d in staged)
    released = em.release_entry_caches()
    assert released >= 2
    assert caching._LIVE_CACHES == []
    assert em._MERGE_TARGET_CACHE == {} and em._INDEX_CACHE == {}
    # The staged target's parquet dir goes with its memo entry.
    assert not any(os.path.exists(d) for d in staged)
    assert em._STAGED_DIRS == []
    # idempotent on an empty registry
    assert em.release_entry_caches() == 0


def test_get_spark_disables_dataframe_debugging(spark):
    """get_spark turns off PySpark's per-call call-site capture (see its
    docstring for the trade-off); the wrapper reads the flag once per
    process, so the session must carry it from creation."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
