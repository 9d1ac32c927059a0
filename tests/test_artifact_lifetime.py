"""Artifact lifetimes (``functions/caching.py``): a sink's write frees what
its merge registered, iterative loops keep one live state, release_caches()
leaves no persistent RDD behind, a caller's cache is the caller's, and
scopes are per thread."""

from __future__ import annotations

import threading
from collections import Counter
from functools import partial

import pytest
from pyspark import StorageLevel

from dbt_scd2_utils_spark import ScdConfig, scd2_incremental, scd2_initial_load
from dbt_scd2_utils_spark.functions import caching
from dbt_scd2_utils_spark.operators.bpe import learn_bpe_merges_distributed
from dbt_scd2_utils_spark.operators.clustering import connected_components
from dbt_scd2_utils_spark.operators.scd2_salted import scd2_incremental_salted
from dbt_scd2_utils_spark.operators.similarity import kmeans_centroids
from dbt_scd2_utils_spark.plans.build import ScdTable
from tests.fixtures.seeds import CUSTOMERS_RAW, CUSTOMERS_SCHEMA

CFG = ScdConfig(unique_key=("customer_id",), deleted_at_column="deleted_at")


def _persistent(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _batch(spark, i):
    return spark.createDataFrame(CUSTOMERS_RAW[i], CUSTOMERS_SCHEMA)


def test_salted_bucketed_merge_leaves_no_persistent_rdd(spark, tmp_path):
    """The salted route's checkpoints (hot-key set, ghost-stage barriers)
    and the batch barrier are freed at the commit."""
    log = []
    merge = partial(
        scd2_incremental_salted, salts=4, hot_key_threshold=2, route_log=log
    )
    t = ScdTable(spark, str(tmp_path / "t"), CFG, partition_buckets=4, merge_fn=merge)
    t.build(_batch(spark, 1))
    before = _persistent(spark)
    out = t.build(_batch(spark, 2))
    assert log and log[-1][0] == "salted", log
    assert _persistent(spark) == before
    want = scd2_incremental(scd2_initial_load(_batch(spark, 1), CFG), _batch(spark, 2), CFG)
    assert out.exceptAll(want).count() == 0 and want.exceptAll(out).count() == 0


def test_iterative_loops_hold_one_state_and_release_everything(spark):
    """Connected components, the distributed BPE learner and k-means keep
    only their live state between rounds; release_caches() frees it.
    k-means returns its driver-small centroids as a local relation."""
    caching.release_caches()
    before = _persistent(spark)

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8)], "id_a long, id_b long"
    )
    cc = connected_components(pairs)
    assert sorted(tuple(r) for r in cc.collect()) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (7, 7), (8, 7)
    ]
    assert len(_persistent(spark) - before) <= 2  # the symmetric pairs + edges

    docs = spark.createDataFrame(
        [("low lower lowest",), ("newer newest wider",)], "text string"
    )
    seen = _persistent(spark)
    assert learn_bpe_merges_distributed(docs, 4).count() == 4
    assert len(_persistent(spark) - seen) == 1  # the final symbol state

    pts = spark.createDataFrame(
        [(i, [float(i % 3), float(i)]) for i in range(12)], "vec_id long, embedding array<double>"
    )
    seen = _persistent(spark)
    assert kmeans_centroids(pts, k=2, iters=3).count() == 2
    assert _persistent(spark) == seen  # the centroids are a local relation

    assert caching.release_caches() >= 3
    assert _persistent(spark) == before


@pytest.mark.parametrize("buckets", [None, 4], ids=["vanilla", "bucketed"])
def test_build_keeps_the_callers_cache(spark, tmp_path, buckets):
    """A batch the caller cached stays cached through an initial build and
    an incremental merge: the engine releases only what it registered."""
    t = ScdTable(spark, str(tmp_path / "t"), CFG, partition_buckets=buckets)
    for i in (1, 2):
        b = _batch(spark, i).cache()
        b.count()
        level = b.storageLevel
        assert level != StorageLevel.NONE
        t.build(b)
        assert b.storageLevel == level, i
        b.unpersist()


def test_scopes_are_per_thread(spark):
    """Two threads merge through the salted route inside their own scopes.
    B's scope closes while A's result is still unconsumed: A's checkpoints
    must survive (a freed checkpoint fails the query), and each scope
    frees exactly its own artifacts."""
    before = _persistent(spark)
    target = scd2_initial_load(_batch(spark, 1), CFG)
    merge = partial(scd2_incremental_salted, salts=4, hot_key_threshold=2)
    a_built, b_closed = threading.Event(), threading.Event()
    out, errors = {}, []

    def checkpoints():
        return {
            a[1].id() for a in caching._scopes()[-1]
            if not isinstance(a, str) and a[1] is not None
        }

    def a():
        try:
            with caching.scope():
                r = merge(target, _batch(spark, 2), CFG)
                mine = checkpoints()
                a_built.set()
                assert b_closed.wait(120)
                assert mine and mine <= _persistent(spark)
                out["a"] = r.collect()
        except Exception as e:  # surfaced below
            errors.append(e)
            a_built.set()

    def b():
        try:
            assert a_built.wait(120)
            with caching.scope():
                r = merge(target, _batch(spark, 3), CFG)
                out["b_checkpoints"] = checkpoints()
                out["b"] = r.collect()
            assert not out["b_checkpoints"] & _persistent(spark)
        except Exception as e:
            errors.append(e)
        finally:
            b_closed.set()

    threads = [threading.Thread(target=f) for f in (a, b)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(300)
    assert not errors, errors
    assert out["b_checkpoints"]
    with caching.scope():
        want = scd2_incremental(target, _batch(spark, 2), CFG).collect()
    assert Counter(map(tuple, out["a"])) == Counter(map(tuple, want))
    assert _persistent(spark) == before
