"""Bucketed ScdTable: incremental merges touch only affected buckets, commit
via immutable generation directories + an atomic manifest replace, and equal
the unbucketed build.  Snapshot isolation: a reader planned against any of
the last `retain_generations` manifests never races a deletion."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dbt_scd2_utils_spark import ScdConfig
from dbt_scd2_utils_spark.plans.build import BUCKET_COL, GEN_PREFIX, ScdTable
from tests.fixtures.seeds import CUSTOMERS_RAW, CUSTOMERS_SCHEMA
from tests.test_bucket_local_merge import assert_bucket_local_plan
import pytest

CFG = ScdConfig(unique_key=("customer_id",), deleted_at_column="deleted_at")


def _manifest_paths(t):
    """bucket id -> sorted root-relative data-file paths, from the manifest."""
    m = t._read_manifest()
    return {b: sorted(t._entry_paths(b, e)) for b, e in m["buckets"].items()}


def _touched(t, batch_df):
    return {
        str(r[0])
        for r in batch_df.select(t._bucket_expr(batch_df).alias("b"))
        .distinct()
        .collect()
    }


def test_bucketed_equals_plain_and_prunes_writes(spark, tmp_path):
    plain_path = str(tmp_path / "plain")
    buck_path = str(tmp_path / "bucketed")
    plain = ScdTable(spark, plain_path, CFG)
    bucketed = ScdTable(spark, buck_path, CFG, partition_buckets=8)

    b1 = spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA)
    plain.build(b1)
    bucketed.build(b1)

    before = _manifest_paths(bucketed)
    assert len(before) > 1  # keys spread over several buckets

    # Batch 2 touches a subset of keys → only their buckets get a new
    # generation; untouched buckets keep their exact manifest entries.
    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    out_plain = plain.build(b2)
    out_buck = bucketed.build(b2)

    assert (
        out_plain.exceptAll(out_buck).count() == 0
        and out_buck.exceptAll(out_plain).count() == 0
    )

    after = _manifest_paths(bucketed)
    touched = _touched(bucketed, b2)
    untouched = set(before) - touched
    assert touched and untouched
    for b in untouched:
        assert after[b] == before[b], "unaffected bucket entry must not change"
    for b in touched:
        assert after[b] != before.get(b)
        assert all(p.startswith(GEN_PREFIX) for p in after[b]), (
            "rewritten buckets must live in the new generation dir"
        )
    # Immutability: the displaced files still exist (within the retention
    # window) — the merge deleted nothing.
    for b in touched:
        for rel in before.get(b, []):
            assert os.path.exists(os.path.join(buck_path, rel))


def test_bucketed_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "rt")
    t = ScdTable(spark, path, CFG, partition_buckets=4)
    b1 = spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA)
    out = t.build(b1)
    assert BUCKET_COL not in out.columns  # internal column hidden from readers
    assert out.count() > 0


# -- partition manifest / generational commit ---------------------------


def _expected(spark, path, batches):
    """The unbucketed build over the same batch sequence."""
    t = ScdTable(spark, path, CFG)
    out = None
    for b in batches:
        out = t.build(spark.createDataFrame(b, CUSTOMERS_SCHEMA))
    return out


def _assert_same(a, b):
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_manifest_matches_disk_and_is_patched_incrementally(spark, tmp_path):
    path = str(tmp_path / "m")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    m1 = t._read_manifest()
    assert m1 is not None and m1["schema"] and m1["gen"] == 0
    for b, e in m1["buckets"].items():
        assert e["rows"] > 0
        for rel in e["paths"]:
            assert os.path.exists(os.path.join(path, rel))

    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    t.build(b2)
    m2 = t._read_manifest()
    assert m2["gen"] == 1
    for b, e in m2["buckets"].items():
        for rel in e["paths"]:
            assert os.path.exists(os.path.join(path, rel))
    # Untouched buckets keep their exact entries; touched entries moved to
    # the committed generation and their old files are on the ledger.
    touched = _touched(t, b2)
    for b, e in m1["buckets"].items():
        if b not in touched:
            assert m2["buckets"][b] == e
    assert set(m2["superseded"]) == {"1"}
    assert sorted(m2["superseded"]["1"]) == sorted(
        rel
        for b in touched
        for rel in m1["buckets"].get(b, {"paths": []})["paths"]
    )


def test_concurrent_reader_snapshot_survives_merge(spark, tmp_path):
    """THE snapshot-isolation gate: a DataFrame planned against the
    pre-merge manifest must still collect correctly AFTER a merge commits —
    under the old in-place swap the merge deleted the files out from under
    the planned query (this test fails on that protocol)."""
    path = str(tmp_path / "snap")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))

    snapshot = t.read()  # planned against the gen-0 manifest
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))

    # Collect AFTER the commit: must serve the consistent pre-merge state.
    expected = _expected(spark, str(tmp_path / "pe"), [CUSTOMERS_RAW[1]])
    _assert_same(snapshot, expected)
    # And a fresh read serves the post-merge state.
    _assert_same(
        t.read(),
        _expected(spark, str(tmp_path / "pe2"), [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]),
    )


def test_vacuum_deletes_displaced_files_after_retention(spark, tmp_path):
    """Files displaced by commit S are deleted once S <= gen - retain:
    with retain_generations=1 the files batch 2 displaced (S=1) go at the
    NEXT commit (gen 2), and emptied generation dirs are pruned."""
    path = str(tmp_path / "vac")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=1)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    gen0 = _manifest_paths(t)

    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    t.build(b2)
    displaced = [rel for b in _touched(t, b2) for rel in gen0.get(b, [])]
    assert displaced
    # Within retention: still on disk.
    assert all(os.path.exists(os.path.join(path, r)) for r in displaced)

    t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))
    # S=1 <= gen(2) - retain(1): vacuumed, ledger pruned.
    assert not any(os.path.exists(os.path.join(path, r)) for r in displaced)
    m = t._read_manifest()
    assert "1" not in m["superseded"]
    # Table still correct after vacuum.
    _assert_same(
        t.read(),
        _expected(
            spark,
            str(tmp_path / "pv"),
            [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2], CUSTOMERS_RAW[3]],
        ),
    )
    # Every file the manifest references exists; gen-1's dir is gone iff
    # all its files were displaced and vacuumed.
    for b, e in m["buckets"].items():
        for rel in e["paths"]:
            assert os.path.exists(os.path.join(path, rel))


def test_orphan_generation_swept_not_served(spark, tmp_path):
    """A crash between the generation write and the manifest commit leaves
    an orphan `_gen-*` dir: it must be invisible to readers and swept (then
    safely re-used) by the next merge."""
    path = str(tmp_path / "orphan")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))

    # Fake the crashed merge: a fully-written but uncommitted generation.
    orphan = os.path.join(path, f"{GEN_PREFIX}00000001", f"{BUCKET_COL}=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-crashed.parquet"), "w") as f:
        f.write("not a real parquet file")

    # Invisible to read().
    _assert_same(t.read(), _expected(spark, str(tmp_path / "po"), [CUSTOMERS_RAW[1]]))

    # The next merge sweeps it and commits its own gen 1 cleanly.
    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    _assert_same(
        out,
        _expected(spark, str(tmp_path / "po2"), [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]),
    )
    assert not os.path.exists(os.path.join(orphan, "part-crashed.parquet"))


def test_manifest_stale_entry_relists_and_repairs(spark, tmp_path):
    """Advisory-manifest principle: an entry listing vanished files (legacy
    crash or external tampering) falls back to re-listing that one
    directory, produces correct rows, and the merge's commit repairs the
    buckets it touched."""
    path = str(tmp_path / "crash")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    mp = t._manifest_path()
    m = json.load(open(mp))
    for b, e in m["buckets"].items():  # every entry stale
        e["paths"] = [f"{BUCKET_COL}={b}/part-gone-from-a-crash.parquet"]
    json.dump(m, open(mp, "w"))

    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    out = t.build(b2)
    _assert_same(out, _expected(spark, str(tmp_path / "p1"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]))
    m2 = t._read_manifest()
    for b in _touched(t, b2):
        for rel in m2["buckets"][b]["paths"]:
            assert os.path.exists(os.path.join(path, rel))


def test_manifest_missing_migrates_legacy_table(spark, tmp_path):
    """A manifest-less table merges correctly via the one-time migration
    listing, after which the manifest exists in generational form."""
    path = str(tmp_path / "legacy")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    os.remove(t._manifest_path())

    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    _assert_same(out, _expected(spark, str(tmp_path / "p2"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]))
    m = t._read_manifest()
    assert m is not None and "gen" in m and "superseded" in m


def test_legacy_style_manifest_upgraded_in_place(spark, tmp_path):
    """A pre-generation manifest ({"files": [...]} entries, no "gen") is
    normalized by its next merge; data matches the plain build throughout."""
    path = str(tmp_path / "oldstyle")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    mp = t._manifest_path()
    m = json.load(open(mp))
    legacy = {
        "buckets": {
            b: {
                "files": [os.path.basename(p) for p in e["paths"]],
                "rows": e["rows"],
            }
            for b, e in m["buckets"].items()
        },
        "schema": m["schema"],
    }
    json.dump(legacy, open(mp, "w"))

    # Legacy read path still serves the table.
    _assert_same(t.read(), _expected(spark, str(tmp_path / "pl"), [CUSTOMERS_RAW[1]]))
    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    _assert_same(out, _expected(spark, str(tmp_path / "pl2"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]))
    m2 = t._read_manifest()
    assert "gen" in m2 and m2["gen"] == 1


def test_bucketed_merge_into_brand_new_bucket(spark, tmp_path):
    """A batch whose keys hash to buckets with no existing files must merge
    against an empty slice (manifest schema), not crash."""
    path = str(tmp_path / "newbucket")
    t = ScdTable(spark, path, CFG, partition_buckets=64)
    only_k1 = [r for r in CUSTOMERS_RAW[1] if r[0] == 1]
    t.build(spark.createDataFrame(only_k1, CUSTOMERS_SCHEMA))
    # Merge the full batch-2: with 64 buckets the other keys land in
    # buckets that do not exist yet.
    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    _assert_same(out, _expected(spark, str(tmp_path / "p3"),
                                [only_k1, CUSTOMERS_RAW[2]]))
    m = t._read_manifest()
    for b, e in m["buckets"].items():
        for rel in e["paths"]:
            assert os.path.exists(os.path.join(path, rel))


def test_bucketed_merge_empty_batch_is_noop(spark, tmp_path):
    """An empty CDC delta merges as a no-op (guard for repartition(0))."""
    path = str(tmp_path / "empty")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    before = t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    empty = spark.createDataFrame([], CUSTOMERS_SCHEMA)
    after = t.build(empty)
    _assert_same(before, after)


def test_manifest_stale_schema_not_pinned_over_swapped_files(spark, tmp_path):
    """External tampering (or a legacy crash) can straddle a SCHEMA change:
    the on-disk files carry a column the recorded manifest schema lacks.
    The stale-detecting read must derive the schema from the files
    (mergeSchema) instead of pinning the old recorded one — otherwise the
    new column is silently dropped (wrong data, not a re-list)."""
    path = str(tmp_path / "schema_crash")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))

    # Replace one bucket dir's files with files carrying an EXTRA column
    # under fresh names; manifest not updated.
    bdir = next(
        os.path.join(path, d)
        for d in os.listdir(path)
        if d.startswith(f"{BUCKET_COL}=")
    )
    swapped = spark.read.parquet(bdir).withColumn("tier", F.lit("gold"))
    staging = str(tmp_path / "swapped_files")
    swapped.coalesce(1).write.parquet(staging)
    for f in os.listdir(bdir):
        if f.endswith(".parquet"):
            os.remove(os.path.join(bdir, f))
    import shutil

    for i, f in enumerate(sorted(os.listdir(staging))):
        if f.endswith(".parquet"):
            shutil.copy(
                os.path.join(staging, f),
                os.path.join(bdir, f"part-swapped-{i}.parquet"),
            )

    out = t.read()
    assert "tier" in out.columns, "new column silently dropped"
    assert out.filter(F.col("tier") == "gold").count() > 0
    assert out.filter(F.col("tier").isNull()).count() > 0  # other buckets


def test_new_bucket_is_growth_not_stale(spark, tmp_path):
    """A bucket with no manifest entry is normal growth under a
    generational manifest (membership is authoritative) — it must not
    poison the read into abandoning the pinned manifest schema.  Only a
    listed file that vanished counts as stale."""
    path = str(tmp_path / "growth")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    manifest = t._read_manifest()
    known = list(manifest["buckets"])
    # brand-new bucket id: no entry -> no files, NOT stale
    fresh_id = next(str(b) for b in range(8) if str(b) not in known)
    files, stale = t._affected_files(manifest, [fresh_id])
    assert files == [] and stale is False
    # known bucket + new bucket -> known files, still not stale
    files, stale = t._affected_files(manifest, [known[0], fresh_id])
    assert files and stale is False
    # a listed file vanishing IS stale
    manifest["buckets"][known[0]]["paths"] = [
        f"{BUCKET_COL}={known[0]}/part-vanished.parquet"
    ]
    files, stale = t._affected_files(manifest, [known[0]])
    assert stale is True


def test_emptied_generation_dir_is_pruned(spark, tmp_path):
    """Once every file a generation wrote has been displaced and vacuumed,
    its directory (including Spark's _SUCCESS/.crc markers) must go too —
    otherwise commit churn accumulates one empty dir per merge forever
    (caught by the first --merge-churn run: 50 dirs after 50 commits)."""
    path = str(tmp_path / "prune")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=1)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    # Same batch three times: each merge rewrites the SAME buckets, so
    # gen N's files are fully displaced by gen N+1 and vacuumed at N+2.
    t.build(b2)  # gen 1
    t.build(b2)  # gen 2: displaces all of gen 1
    t.build(b2)  # gen 3: vacuums gen 1's files -> its dir must be pruned
    assert f"{GEN_PREFIX}00000001" not in os.listdir(path)
    # Live generations and their data remain intact.
    _assert_same(
        t.read(),
        _expected(spark, str(tmp_path / "pp"), [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]),
    )


def test_read_at_gen_time_travel(spark, tmp_path):
    """Generation time-travel: read_at_gen(G) serves the table exactly as
    commit G left it, for any generation inside the vacuum retention
    window; outside it raises with the retention explanation."""
    import pytest as _pytest

    path = str(tmp_path / "tt")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=2)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1
    t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))  # gen 2

    # Every retained generation replays its exact historical state.
    _assert_same(
        t.read_at_gen(0),
        _expected(spark, str(tmp_path / "g0"), [CUSTOMERS_RAW[1]]),
    )
    _assert_same(
        t.read_at_gen(1),
        _expected(spark, str(tmp_path / "g1"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]),
    )
    _assert_same(t.read_at_gen(2), t.read())

    # Push gen 0 out of the retention window (retain=2: at gen 3 the
    # files displaced by commit 1 are vacuumed and snapshot 0 expires).
    t.build(spark.createDataFrame(CUSTOMERS_RAW[4], CUSTOMERS_SCHEMA))  # gen 3
    with _pytest.raises(ValueError, match="no retained snapshot"):
        t.read_at_gen(0)
    # gen 1 is still inside the window and still exact.
    _assert_same(
        t.read_at_gen(1),
        _expected(spark, str(tmp_path / "g1b"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]),
    )


def test_read_keys_prunes_to_affected_buckets(spark, tmp_path):
    """read_keys returns exactly the full read's rows for the requested
    keys while SCANNING only the buckets those keys hash into: the
    planned input files must be a strict subset of the table's files,
    confined to the affected buckets' manifest entries.  NULL-safe on
    key equality, and correct (just unpruned) on an unbucketed table."""
    path = str(tmp_path / "lookup")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))

    keys = spark.createDataFrame([(1,), (2,)], "customer_id int")
    got = t.read_keys(keys)
    want = t.read().filter(F.col("customer_id").isin(1, 2))
    _assert_same(got, want)
    assert got.count() > 0

    # Pruning: planned leaf files ⊆ the affected buckets' manifest paths,
    # and strictly fewer than the whole table's.
    m = t._read_manifest()
    affected = {
        str(r[0])
        for r in keys.select(t._bucket_expr(keys).alias("b")).distinct().collect()
    }
    allowed = {
        os.path.join(path, rel)
        for b in affected
        for rel in t._entry_paths(b, m["buckets"][b])
    }
    total = sum(len(e["paths"]) for e in m["buckets"].values())
    scanned = {f.removeprefix("file://") for f in got.inputFiles()}
    assert scanned and scanned <= allowed, "lookup scanned an unaffected bucket"
    assert len(allowed) < total, "fixture must spread keys over >1 bucket"

    # Unbucketed fallback: same rows, no manifest machinery.
    plain = ScdTable(spark, str(tmp_path / "plain"), CFG)
    plain.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    plain.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    got_plain = plain.read_keys(keys)
    _assert_same(got_plain, want)


def test_repeated_read_keys_register_one_barrier(spark, tmp_path):
    """read_keys persists its key set through the shared barrier registry.
    Looking up the same key frame again finds that plan already cached:
    N lookups leave one registry entry, not N, and release_caches()
    leaves none of their persisted RDDs behind."""
    from dbt_scd2_utils_spark.functions import caching

    t = ScdTable(spark, str(tmp_path / "lookup"), CFG, partition_buckets=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    keys = spark.createDataFrame([(1,), (2,)], "customer_id int")
    caching.release_caches()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(4):
        assert t.read_keys(keys).count() > 0
    assert len(caching._LIVE_CACHES) == 1
    assert set(jsc.getPersistentRDDs().keySet()) - before, "the key set was cached"
    assert caching.release_caches() == 1
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_read_at_timestamp_boundaries(spark, tmp_path):
    """TIMESTAMP AS OF twin of read_at_gen: resolves the latest retained
    generation with committed_at <= ts.  Boundaries: the exact commit
    instant serves that commit; between commits serves the earlier one;
    before every retained commit raises the retention error shape; past
    retention likewise; at/after the newest commit serves the current
    generation.  str / datetime / epoch inputs are equivalent."""
    import datetime

    import pytest as _pytest

    path = str(tmp_path / "ts_tt")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=2)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1
    t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))  # gen 2

    # unix_micros, not collect()ed timestamps: TimestampType.fromInternal
    # returns naive datetimes in the DRIVER OS timezone, which would only
    # be UTC-correct on a UTC host (r13 self-review).
    commits = {
        r["gen"]: datetime.datetime.fromtimestamp(
            r["us"] / 1_000_000, datetime.timezone.utc
        )
        for r in t.history()
        .select("gen", F.unix_micros("committed_at").alias("us"))
        .collect()
    }
    g0, g1, g2 = commits[0], commits[1], commits[2]
    assert g0 < g1 < g2  # builds are seconds apart; ties impossible here

    want_g0 = _expected(spark, str(tmp_path / "w0"), [CUSTOMERS_RAW[1]])
    want_g1 = _expected(
        spark, str(tmp_path / "w1"), [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]
    )
    # Exact commit instant (inclusive) and between-commits midpoint.
    _assert_same(t.read_at_timestamp(g0), want_g0)
    _assert_same(t.read_at_timestamp(g0 + (g1 - g0) / 2), want_g0)
    _assert_same(t.read_at_timestamp(g1), want_g1)
    # At/after the newest commit: the current generation.
    _assert_same(t.read_at_timestamp(g2), t.read())
    _assert_same(
        t.read_at_timestamp(g2 + datetime.timedelta(days=365)), t.read()
    )
    # Input forms: ISO string and epoch seconds resolve identically.
    _assert_same(t.read_at_timestamp(g0.isoformat()), want_g0)
    _assert_same(t.read_at_timestamp(g0.timestamp()), want_g0)
    with _pytest.raises(TypeError, match="ISO-8601"):
        t.read_at_timestamp(object())

    # Before every retained commit: the retention error shape.
    with _pytest.raises(ValueError, match="no retained snapshot"):
        t.read_at_timestamp(g0 - datetime.timedelta(seconds=1))

    # Push gen 0 out of retention (retain=2): its instant now refuses too.
    t.build(spark.createDataFrame(CUSTOMERS_RAW[4], CUSTOMERS_SCHEMA))  # gen 3
    with _pytest.raises(ValueError, match="no retained snapshot"):
        t.read_at_timestamp(g0)
    # gen 1's instant is still inside the window and still exact.
    _assert_same(t.read_at_timestamp(g1), want_g1)


def test_retention_is_a_table_property(spark, tmp_path):
    """retain_generations is recorded in the manifest at commit: a later
    DEFAULT-constructed writer honors the table's recorded window instead
    of vacuuming underneath readers that rely on the longer one."""
    path = str(tmp_path / "retprop")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=3)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    gen0 = _manifest_paths(t)
    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    t.build(b2)  # gen 1: records retain=3
    assert t._read_manifest()["retain"] == 3

    t2 = ScdTable(spark, path, CFG, partition_buckets=8)  # default writer
    t2.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))  # gen 2
    t2.build(spark.createDataFrame(CUSTOMERS_RAW[4], CUSTOMERS_SCHEMA))  # gen 3
    # Under the DEFAULT window (2) the files displaced by commit 1 would
    # be vacuumed at gen 3 (1 <= 3-2); under the recorded property (3)
    # they must survive (1 <= 3-3 is false) and gen-0 time travel holds.
    displaced = [rel for b in _touched(t, b2) for rel in gen0.get(b, [])]
    assert displaced
    assert all(os.path.exists(os.path.join(path, r)) for r in displaced)
    assert t2._read_manifest()["retain"] == 3
    _assert_same(
        t2.read_at_gen(0),
        _expected(spark, str(tmp_path / "rp0"), [CUSTOMERS_RAW[1]]),
    )


def test_read_missing_table_raises_spark_path_error(spark, tmp_path):
    """read() of a never-built bucketed table surfaces Spark's usual
    PATH_NOT_FOUND analysis error, not a bare FileNotFoundError from the
    manifest-era os.listdir."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    t = ScdTable(spark, str(tmp_path / "nope"), CFG, partition_buckets=8)
    with _pytest.raises(AnalysisException):
        t.read().collect()


def test_manifest_loss_recovery_ledgers_newest_wins_losers(spark, tmp_path):
    """Losing the manifest of a generational table must not orphan the
    displaced-but-unvacuumed copies: the migration scan re-ledgers every
    newest-wins loser so a later commit's vacuum still collects them, and
    a torn (no _SUCCESS) generation is never adopted."""
    path = str(tmp_path / "mloss")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=1)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    t.build(b2)  # gen 1: displaced gen-0 copies still on disk (retain 1)

    # Lose the manifest AND its snapshots; plant a torn generation.
    for n in os.listdir(path):
        if n.startswith("_scd_manifest"):
            os.remove(os.path.join(path, n))
    torn = os.path.join(path, f"{GEN_PREFIX}00000009", f"{BUCKET_COL}=0")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-torn.parquet"), "w") as f:
        f.write("torn")  # no _SUCCESS at the generation root

    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))
    _assert_same(out, _expected(spark, str(tmp_path / "ml"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2],
                                 CUSTOMERS_RAW[3]]))
    # The reconstructed ledger carried the gen-0 losers; after this commit
    # plus one more they are vacuumed rather than orphaned forever.
    t.build(spark.createDataFrame(CUSTOMERS_RAW[4], CUSTOMERS_SCHEMA))
    t.build(spark.createDataFrame(CUSTOMERS_RAW[5], CUSTOMERS_SCHEMA))
    m = t._read_manifest()
    live = {
        os.path.join(path, r)
        for e in m["buckets"].values()
        for r in e["paths"]
    }
    on_ledger = {
        os.path.join(path, r)
        for rels in m["superseded"].values()
        for r in rels
    }
    # every parquet on disk is either live, or awaiting vacuum on the
    # ledger — nothing is orphaned
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                p = os.path.join(root, n)
                assert p in live or p in on_ledger, p


def test_bucket_count_is_a_table_property(spark, tmp_path):
    """bucket_count is recorded in the manifest: a default-constructed
    handle adopts it (reads see ALL generational buckets; merges stay
    bucketed under the SAME mapping), and an explicitly different count
    fails loudly instead of silently mis-routing keys into duplicate
    histories."""
    import pytest as _pytest

    path = str(tmp_path / "bprop")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1

    # Default handle: adopts the recorded count, reads the full table
    # (generational buckets included), and merges BUCKETED.
    t2 = ScdTable(spark, path, CFG)
    _assert_same(
        t2.read(),
        _expected(spark, str(tmp_path / "bp1"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]),
    )
    out = t2.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))
    assert t2.partition_buckets == 8
    m = t2._read_manifest()
    assert m["bucket_count"] == 8 and m["gen"] == 2
    _assert_same(out, _expected(spark, str(tmp_path / "bp2"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2],
                                 CUSTOMERS_RAW[3]]))

    # Explicit mismatch: refuse, pointing at rebucket().
    t3 = ScdTable(spark, path, CFG, partition_buckets=16)
    with _pytest.raises(ValueError, match="rebucket"):
        t3.build(spark.createDataFrame(CUSTOMERS_RAW[4], CUSTOMERS_SCHEMA))


def test_rebucket_rewrites_layout_and_preserves_history(spark, tmp_path):
    """rebucket(): one generational commit swaps the whole layout to the
    new bucket count; data is unchanged, later merges route correctly
    under the new mapping, pre-rebucket snapshots stay time-travel
    readable, and the old files ride the superseded ledger."""
    path = str(tmp_path / "rb")
    t = ScdTable(spark, path, CFG, partition_buckets=4, retain_generations=2)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1
    want12 = _expected(spark, str(tmp_path / "rb12"),
                       [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]])

    out = t.rebucket(16)  # gen 2
    _assert_same(out, want12)
    m = t._read_manifest()
    assert m["bucket_count"] == 16 and m["gen"] == 2
    assert "2" in m["superseded"] and m["superseded"]["2"]
    # every live entry points into the rebucket generation
    for e in m["buckets"].values():
        assert all(p.startswith(f"{GEN_PREFIX}00000002/") for p in e["paths"])

    # merges after the rebucket route under the NEW mapping (no duplicate
    # histories: result equals the plain oracle)
    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))
    _assert_same(out, _expected(spark, str(tmp_path / "rb123"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2],
                                 CUSTOMERS_RAW[3]]))
    # pre-rebucket history stays readable inside the retention window
    _assert_same(t.read_at_gen(1), want12)
    # a fresh default handle adopts the new count
    t2 = ScdTable(spark, path, CFG)
    t2.read()
    assert t2.partition_buckets == 16


def test_full_refresh_may_relayout_bucket_count(spark, tmp_path):
    """A FULL REFRESH rewrites every row, so an explicitly different
    bucket count is a legitimate re-layout there — only incremental
    merges under a different mapping are refused."""
    path = str(tmp_path / "relayout")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))

    t16 = ScdTable(spark, path, CFG, partition_buckets=16)
    out = t16.build(
        spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA),
        full_refresh=True,
    )
    _assert_same(out, _expected(spark, str(tmp_path / "rl"), [CUSTOMERS_RAW[1]]))
    assert t16._read_manifest()["bucket_count"] == 16
    # ...and incremental merges now proceed under the new recorded count.
    out = t16.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    _assert_same(out, _expected(spark, str(tmp_path / "rl2"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]))


def test_default_handle_readopts_after_external_rebucket(spark, tmp_path):
    """A long-lived default handle that adopted the old count must
    RE-ADOPT after another handle rebuckets, not hard-fail claiming it
    was 'constructed with' the stale count."""
    path = str(tmp_path / "readopt")
    t = ScdTable(spark, path, CFG, partition_buckets=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))

    held = ScdTable(spark, path, CFG)   # default handle, adopts 4
    held.read()
    assert held.partition_buckets == 4

    t.rebucket(16)                       # external layout change

    out = held.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    assert held.partition_buckets == 16  # re-adopted, not crashed
    _assert_same(out, _expected(spark, str(tmp_path / "ra"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]))


def test_rebucket_works_from_new_count_handle(spark, tmp_path):
    """The error message tells a mismatched writer to call rebucket() —
    so rebucket() must work from exactly that handle (constructed with
    the NEW count), not only from old-count/default handles."""
    import pytest as _pytest

    path = str(tmp_path / "rbnew")
    t = ScdTable(spark, path, CFG, partition_buckets=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))

    t16 = ScdTable(spark, path, CFG, partition_buckets=16)
    with _pytest.raises(ValueError, match="rebucket"):
        t16.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    out = t16.rebucket(16)               # the suggested remedy must work
    _assert_same(out, _expected(spark, str(tmp_path / "rn"), [CUSTOMERS_RAW[1]]))
    assert t16._read_manifest()["bucket_count"] == 16


def test_full_refresh_preserves_table_properties_and_txn(spark, tmp_path):
    """A batch full refresh must carry the recorded TABLE properties and
    the per-app txn epoch map across the rewrite (Delta preserves table
    properties and txnAppId/txnVersion pairs across overwrites): dropping
    the txn map would void every OTHER stream's exactly-once replay
    protection, and `retain` must not revert to the default."""
    path = str(tmp_path / "fr_props")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=5)
    t.build(
        spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA),
        txn_epoch=0, txn_app="appA",
    )
    t.build(
        spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA),
        txn_epoch=0, txn_app="appB",
    )
    m_before = t._read_manifest()
    assert m_before["retain"] == 5 and m_before["txn"] == {"appA": 0, "appB": 0}

    # Default-constructed batch writer full-refreshes the table.
    refresher = ScdTable(spark, path, CFG, partition_buckets=8)
    refresher.build(
        spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA),
        full_refresh=True,
        txn_epoch=7, txn_app="appA",
    )
    m = refresher._read_manifest()
    assert m["retain"] == 5, "recorded retention must survive a full refresh"
    assert m["txn"] == {"appA": 7, "appB": 0}, (
        "other apps' epochs must survive; the refresher's own advances"
    )
    # Generation counter stays monotonic across the refresh so a held
    # pre-refresh read_at_gen(G) can never alias a new generation G.
    assert m["gen"] > m_before["gen"]

    # appB's replayed epoch 0 is still recognized and skipped.
    gen_after = m["gen"]
    rows_after = refresher.read().count()
    t.build(
        spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA),
        txn_epoch=0, txn_app="appB",
    )
    m2 = t._read_manifest()
    assert m2["gen"] == gen_after and t.read().count() == rows_after, (
        "replayed epoch must be skipped after the full refresh"
    )


def test_vacuum_retries_failed_removals(spark, tmp_path, monkeypatch):
    """A non-ENOENT removal failure (permissions, transient I/O) must put
    the path back on the superseded ledger so the next commit's vacuum
    retries it — popping the key first and swallowing the OSError would
    leak the file permanently once the shrunk ledger is persisted."""
    import os as _os

    path = str(tmp_path / "vacfail")
    t = ScdTable(spark, path, CFG, partition_buckets=4, retain_generations=1)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1
    m = t._read_manifest()
    assert m["superseded"].get("1"), "gen-1 commit must have displaced files"
    victim_rel = m["superseded"]["1"][0]
    victim_abs = os.path.join(path, victim_rel)

    real_remove = _os.remove

    def flaky_remove(p, *a, **kw):
        if os.path.abspath(p) == os.path.abspath(victim_abs):
            raise PermissionError(13, "simulated EACCES", p)
        return real_remove(p, *a, **kw)

    monkeypatch.setattr(_os, "remove", flaky_remove)
    # gen 2: retention (1) expires the gen-1 ledger entry; the victim's
    # removal fails and must be re-ledgered, the rest removed.
    t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))
    monkeypatch.setattr(_os, "remove", real_remove)

    m2 = t._read_manifest()
    assert os.path.exists(victim_abs), "failed removal left the file"
    assert m2["superseded"].get("1") == [victim_rel], (
        "failed path must stay on the ledger for retry"
    )
    # Next commit's vacuum retries and succeeds.
    t.build(spark.createDataFrame(CUSTOMERS_RAW[4], CUSTOMERS_SCHEMA))
    assert not os.path.exists(victim_abs)
    assert "1" not in t._read_manifest()["superseded"]


def test_recovery_gen_precedence_is_numeric_not_lexical(spark, tmp_path):
    """Manifest-loss recovery orders generations by PARSED number: a
    counter past the 8-digit padding ('_gen-100000000' sorts lexically
    BEFORE '_gen-99999999') must still win newest-wins, or superseded
    rows resurrect during recovery."""
    base = str(tmp_path / "numsort")
    os.makedirs(base)
    old_rel = f"{GEN_PREFIX}99999999/{BUCKET_COL}=3"
    new_rel = f"{GEN_PREFIX}100000000/{BUCKET_COL}=3"
    for rel, fname in ((old_rel, "old.parquet"), (new_rel, "new.parquet")):
        d = os.path.join(base, rel)
        os.makedirs(d)
        with open(os.path.join(d, fname), "wb") as f:
            f.write(b"x")  # listing only; footer read degrades to rows=-1
        with open(os.path.join(base, rel.split("/")[0], "_SUCCESS"), "w"):
            pass

    t = ScdTable(spark, base, CFG, partition_buckets=4)
    recon = t._scan_full_manifest("{}")
    assert recon["gen"] == 100000000
    assert recon["buckets"]["3"]["paths"] == [f"{new_rel}/new.parquet"]
    assert recon["superseded"] == {"100000000": [f"{old_rel}/old.parquet"]}


def test_rebucket_mid_churn_time_travel_and_retention(spark, tmp_path):
    """The read_at_gen × rebucket × vacuum COMPOSITION (each piece is
    pinned separately): merges, then a rebucket, then more merges — the
    pre-rebucket generation must stay time-travel readable (exact value
    identity) immediately after the rebucket, and once `retain` further
    commits have passed it must raise the retention error instead of
    serving vacuumed files; post-rebucket merges must equal the plain
    oracle under the new mapping."""
    import pytest as _pytest

    path = str(tmp_path / "churnmix")
    t = ScdTable(spark, path, CFG, partition_buckets=4)  # retain default 2
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1
    gen_pre = t._read_manifest()["gen"]
    want_pre = _expected(spark, str(tmp_path / "cm12"),
                         [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]])

    t.rebucket(8)                                                       # gen 2
    _assert_same(t.read_at_gen(gen_pre), want_pre)  # across the boundary

    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))
    _assert_same(out, _expected(spark, str(tmp_path / "cm123"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2],
                                 CUSTOMERS_RAW[3]]))
    # gen 3: one commit past the rebucket — gen_pre (=1) still inside the
    # window (retain 2 keeps gens [gen-2, gen] = [1, 3] readable).
    _assert_same(t.read_at_gen(gen_pre), want_pre)

    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[4], CUSTOMERS_SCHEMA))
    # gen 4: gen_pre fell out of retention — snapshot expired, its files
    # vacuumed; time travel must REFUSE, never resurrect.
    with _pytest.raises(ValueError, match="retention|retained snapshot"):
        t.read_at_gen(gen_pre)
    _assert_same(out, _expected(spark, str(tmp_path / "cm1234"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2],
                                 CUSTOMERS_RAW[3], CUSTOMERS_RAW[4]]))


def test_history_lists_retained_generations(spark, tmp_path):
    """history() — DESCRIBE HISTORY in miniature: one row per RETAINED
    generation, newest first, with op / committed_at / bucket stats from
    the per-gen manifest snapshots (driver-local JSON, no data scan);
    generations vacuumed out of the window drop off the listing."""
    path = str(tmp_path / "hist")
    t = ScdTable(spark, path, CFG, partition_buckets=4, retain_generations=2)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1
    t.rebucket(8)                                                       # gen 2

    h = t.history().collect()
    assert [r["gen"] for r in h] == [2, 1, 0]
    assert [r["op"] for r in h] == ["rebucket", "merge", "create"]
    assert all(r["committed_at"] is not None for r in h)
    # commit times are monotone non-decreasing with gen
    times = [r["committed_at"] for r in reversed(h)]
    assert times == sorted(times)
    assert h[0]["bucket_count"] == 8 and h[2]["bucket_count"] == 4
    # rows are exact footer counts; the live generation's must equal read()
    assert h[0]["rows"] == t.read().count()
    assert all(r["readable"] for r in h)

    # Two more commits push gen 0 out of retention: it leaves history()
    # exactly when read_at_gen starts refusing it.
    t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))  # gen 3
    t.build(spark.createDataFrame(CUSTOMERS_RAW[4], CUSTOMERS_SCHEMA))  # gen 4
    gens = [r["gen"] for r in t.history().collect()]
    assert gens == [4, 3, 2], gens


def test_concurrent_merge_conflict_raises_not_lost_update(spark, tmp_path):
    """Optimistic concurrency: a merge that planned against generation G
    must ABORT (ConcurrentWriteError, nothing visible, stage cleaned)
    when another writer commits G+1 first — the old protocol silently
    lost the first commit's buckets (and two writers even shared one
    generation dir).  The table must still equal the surviving commit."""
    import pytest as _pytest

    from dbt_scd2_utils_spark.plans.build import (
        STAGE_PREFIX,
        ConcurrentWriteError,
    )

    path = str(tmp_path / "occ")
    t_a = ScdTable(spark, path, CFG, partition_buckets=4)
    t_b = ScdTable(spark, path, CFG, partition_buckets=4)
    t_a.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0

    # A plans its merge here (reads the gen-0 manifest) ...
    planned = t_a._read_manifest()
    # ... B commits gen 1 in the meantime ...
    t_b.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    # ... so A's commit must detect the conflict and abort cleanly.
    batch3 = spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA).cache()
    with _pytest.raises(ConcurrentWriteError, match="generation 1 is now"):
        t_a._build_bucketed_incremental(batch3, manifest=planned)
    batch3.unpersist()

    # Nothing of A's attempt is visible: state == B's commit, no stage
    # dirs left behind, manifest still at gen 1.
    _assert_same(
        t_a.read(),
        _expected(spark, str(tmp_path / "occ_want"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]),
    )
    assert not [n for n in os.listdir(path) if n.startswith(STAGE_PREFIX)]
    assert t_a._read_manifest()["gen"] == 1

    # A's retry against the refreshed table succeeds and is correct.
    out = t_a.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))
    _assert_same(out, _expected(spark, str(tmp_path / "occ_want2"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2],
                                 CUSTOMERS_RAW[3]]))


def test_commit_clears_crashed_orphan_and_refuses_committed_gen(
    spark, tmp_path
):
    """_commit_transaction's generation-dir arms: a dir at this commit's
    number with a LOWER live generation is a crashed writer's rename that
    never committed — cleared and replaced (renames happen only under the
    commit lock, so it cannot be in flight); a number at-or-below the live
    generation is TAKEN — the commit must refuse, never overwrite
    committed data."""
    import pytest as _pytest

    from dbt_scd2_utils_spark.plans.build import (
        GEN_PREFIX,
        STAGE_PREFIX,
        ConcurrentWriteError,
    )

    path = str(tmp_path / "occ_arms")
    t = ScdTable(spark, path, CFG, partition_buckets=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0

    # Arm A: crashed orphan occupying gen 1 (rename landed, manifest
    # commit never did — live gen still 0).  The next merge must claim
    # the number anyway, replacing the orphan's never-visible files.
    orphan = os.path.join(path, f"{GEN_PREFIX}00000001")
    os.makedirs(orphan)
    marker = os.path.join(orphan, "never_committed.parquet")
    with open(marker, "wb") as f:
        f.write(b"x")
    # (no orphan pre-sweep here: call the commit path directly, the way
    # a crash between a rival's sweep and rename would present)
    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    assert t._read_manifest()["gen"] == 1
    assert not os.path.exists(marker), "orphan's files replaced, not merged"
    _assert_same(out, _expected(spark, str(tmp_path / "oa12"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]))

    # Arm B: the number is already COMMITTED (live gen >= claimed gen and
    # no planned-generation check to catch it first, base_gen=None): the
    # transaction must refuse rather than overwrite committed data.
    stage = os.path.join(path, f"{STAGE_PREFIX}testarm")
    os.makedirs(stage)
    gen1_dir = os.path.join(path, f"{GEN_PREFIX}00000001")
    with _pytest.raises(ConcurrentWriteError, match="already committed"):
        t._commit_transaction(stage, gen1_dir, None, {"gen": 1})
    assert not os.path.exists(stage), "loser's stage must be cleaned"
    assert os.path.exists(gen1_dir), "committed generation untouched"


def test_stale_stage_dirs_swept_live_ones_kept(spark, tmp_path):
    """Abandoned staging dirs age out after STAGE_TTL_SECONDS (a crashed
    writer's stage stops receiving writes); a FRESH stage — possibly a
    live concurrent writer mid-flight — must survive the sweep."""
    from dbt_scd2_utils_spark.plans.build import STAGE_PREFIX

    path = str(tmp_path / "stages")
    t = ScdTable(spark, path, CFG, partition_buckets=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))

    stale = os.path.join(path, f"{STAGE_PREFIX}deadbeef")
    fresh = os.path.join(path, f"{STAGE_PREFIX}cafef00d")
    for d in (stale, fresh):
        os.makedirs(d)
        with open(os.path.join(d, "part.parquet"), "wb") as f:
            f.write(b"x")
    past = 1_000_000  # well past any TTL
    # The sweep gates on the NEWEST RECURSIVE mtime (a live Spark stage
    # only touches files under _temporary/, not the top dir) — so ALL of
    # the stale stage's entries must look abandoned, not just its root.
    for f in (stale, os.path.join(stale, "part.parquet")):
        os.utime(f, (os.path.getmtime(f) - past,) * 2)

    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    assert not os.path.exists(stale), "aged-out stage must be swept"
    assert os.path.exists(fresh), "fresh stage must survive"


def test_concurrent_processes_serialize_and_lose_across_the_boundary(
    spark, tmp_path
):
    """CROSS-PROCESS OCC pin: the commit mutex is a ``flock`` on a lock
    file (plans/build.py::_commit_lock), which the docstrings claim is a
    cross-PROCESS mutex — the two-thread serialization test cannot prove
    that (a threading.Lock would pass it).  Leg A: while the parent holds
    the commit lock, a CHILD PROCESS's _commit_transaction must block —
    no commit becomes visible until the parent releases (this leg FAILS
    if flock is ever replaced with an in-process lock).  Leg B: a second
    child that planned against the now-stale generation must raise
    ConcurrentWriteError across the process boundary (exit code 42)."""
    import subprocess
    import sys
    import time as _time

    path = str(tmp_path / "xproc")
    t = ScdTable(spark, path, CFG, partition_buckets=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    assert t._read_manifest()["gen"] == 0

    child_src = f"""
import json, os, sys, time
sys.path.insert(0, {repr(os.getcwd())})
from dbt_scd2_utils_spark.plans.build import (
    ConcurrentWriteError, ScdTable, _gen_dirname,
)
from dbt_scd2_utils_spark.plans.config import ScdConfig

base_gen = int(sys.argv[1])
t = ScdTable(None, {path!r}, ScdConfig(unique_key=("customer_id",),
                                       deleted_at_column="deleted_at"),
             partition_buckets=4)
live = t._read_manifest()
manifest = dict(live)
manifest["gen"] = live["gen"] + 1 if base_gen == live["gen"] else base_gen + 1
manifest["op"] = "xproc-test"
manifest["committed_at"] = time.time()
stage = t._new_stage_dir()
os.makedirs(stage)
open(os.path.join(stage, "_SUCCESS"), "w").close()
gen_dir = os.path.join({path!r}, _gen_dirname(manifest["gen"]))
open(sys.argv[2], "w").close()  # sentinel: about to enter the commit
try:
    t._commit_transaction(stage, gen_dir, base_gen, manifest)
except ConcurrentWriteError:
    sys.exit(42)
sys.exit(0)
"""
    script = str(tmp_path / "xproc_child.py")
    with open(script, "w") as f:
        f.write(child_src)

    # Leg A: parent HOLDS the flock; the child must block at it.
    sentinel = str(tmp_path / "attempting")
    with t._commit_lock() as locked:
        assert locked, "this platform has fcntl; the lock must be real"
        child = subprocess.Popen([sys.executable, script, "0", sentinel])
        deadline = _time.time() + 30
        while not os.path.exists(sentinel):
            assert _time.time() < deadline, "child never reached the commit"
            _time.sleep(0.05)
        _time.sleep(1.5)  # child is now blocked on (or approaching) flock
        assert child.poll() is None, "child finished while the lock was held"
        assert t._read_manifest()["gen"] == 0, (
            "a commit became visible while another process held the lock — "
            "the mutex does not cross the process boundary"
        )
    assert child.wait(timeout=30) == 0, "child must commit after the release"
    assert t._read_manifest()["gen"] == 1

    # Leg B: a child that PLANNED against gen 0 (now superseded) must lose
    # with ConcurrentWriteError in ITS process.
    sentinel2 = str(tmp_path / "attempting2")
    loser = subprocess.run(
        [sys.executable, script, "0", sentinel2], timeout=60
    )
    assert loser.returncode == 42, (
        "conflict detection must raise ConcurrentWriteError cross-process"
    )
    assert t._read_manifest()["gen"] == 1, "loser must publish nothing"
    from dbt_scd2_utils_spark.plans.build import STAGE_PREFIX

    assert not [n for n in os.listdir(path) if n.startswith(STAGE_PREFIX)], (
        "loser's stage dir must be cleaned"
    )
    # The table is still fully readable after both legs.
    _assert_same(
        t.read(),
        _expected(spark, str(tmp_path / "xw"), [CUSTOMERS_RAW[1]]),
    )


def test_schema_evolution_add_column_merge(spark, tmp_path):
    """Add-column evolution end-to-end through the bucketed generational
    sink: gen 0 loads the base schema, the gen-1 merge carries a NEW
    column.  The result must equal the same merge over pre-aligned inputs
    (base history with the column explicitly NULL) — alignment is pure
    plumbing, never a semantic fork — and rows served from UNTOUCHED
    buckets (old files, no rewrite) must surface the new column as NULL
    via the manifest-pinned evolved schema."""
    from dbt_scd2_utils_spark.operators.scd2 import (
        scd2_incremental,
        scd2_initial_load,
    )

    evo_schema = CUSTOMERS_SCHEMA + ", tier string"
    b1 = spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA)
    b2_evo = spark.createDataFrame(
        [r + ("gold",) for r in CUSTOMERS_RAW[2]], evo_schema
    )

    path = str(tmp_path / "evo")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(b1)                      # gen 0, base schema
    out = t.build(b2_evo)            # gen 1, evolved batch
    assert "tier" in out.columns, "new column must survive the merge"

    # Oracle: the identical merge with the evolution PRE-applied by hand.
    b1_aligned = b1.withColumn("tier", F.lit(None).cast("string"))
    want = scd2_incremental(scd2_initial_load(b1_aligned, CFG), b2_evo, CFG)
    _assert_same(out, want)

    # The manifest records the evolved schema; untouched buckets' old
    # files (no 'tier' in their footers) read back as NULL through it.
    m = t._read_manifest()
    assert "tier" in m["schema"]
    touched = _touched(t, b2_evo)
    untouched_rows = out.filter(
        t._bucket_expr(out).cast("string").isin(*touched) == False  # noqa: E712
    )
    if untouched_rows.limit(1).count():
        assert untouched_rows.filter(F.col("tier").isNotNull()).count() == 0

    # And the table stays mergeable AFTER the evolution event.
    b3_evo = spark.createDataFrame(
        [r + ("silver",) for r in CUSTOMERS_RAW[3]], evo_schema
    )
    out3 = t.build(b3_evo)
    want3 = scd2_incremental(want, b3_evo, CFG)
    _assert_same(out3, want3)


def test_schema_evolution_drop_column_merge(spark, tmp_path):
    """Drop-column evolution: a batch missing a target business column
    must NOT destroy it — history keeps its values and new versions
    record NULL (dbt's check strategy for removed source columns).
    Equivalent to merging the batch with the column explicitly NULL."""
    from dbt_scd2_utils_spark.operators.scd2 import (
        scd2_incremental,
        scd2_initial_load,
    )

    dropped_schema = (
        "customer_id int, customer_name string, status string, "
        "deleted_at timestamp, _updated_at timestamp"
    )
    b1 = spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA)
    b2_dropped = spark.createDataFrame(
        [r[:2] + r[3:] for r in CUSTOMERS_RAW[2]], dropped_schema
    )

    path = str(tmp_path / "evo_drop")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(b1)
    out = t.build(b2_dropped)
    assert "email" in out.columns, "dropped column's history must survive"
    assert out.filter(F.col("email").isNotNull()).count() > 0

    b2_aligned = b2_dropped.withColumn("email", F.lit(None).cast("string"))
    want = scd2_incremental(scd2_initial_load(b1, CFG), b2_aligned, CFG)
    _assert_same(out, want)


def test_schema_evolution_never_masks_config_critical_columns(spark):
    """A batch missing a CONFIG-CRITICAL column (updated_at, a unique_key
    component, the configured deleted_at) is a malformed input, not a
    drop-column evolution: the raw batch is validated BEFORE alignment,
    so the reference's loud ScdConfigError still fires instead of the
    column silently riding along as NULL (r13 self-review)."""
    import pytest as _pytest

    from dbt_scd2_utils_spark.operators.scd2 import (
        scd2_incremental,
        scd2_initial_load,
    )
    from dbt_scd2_utils_spark.plans.config import ScdConfigError

    target = scd2_initial_load(
        spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA), CFG
    )
    full = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    for col, msg in (
        ("_updated_at", "updated_at_column"),
        ("customer_id", "unique_key column"),
        ("deleted_at", "deleted_at_column"),
    ):
        with _pytest.raises(ScdConfigError, match=msg):
            scd2_incremental(target, full.drop(col), CFG)


def test_schema_alignment_is_noop_when_schemas_match(spark):
    """align_evolved_schemas must return BOTH inputs unchanged (identity,
    not just equality — no projection enters the plan) whenever the
    column sets already agree, i.e. on every merge outside an actual
    evolution event."""
    from dbt_scd2_utils_spark.operators.scd2 import (
        align_evolved_schemas,
        scd2_initial_load,
    )

    b1 = spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA)
    target = scd2_initial_load(b1, CFG)
    batch = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    t2, b2 = align_evolved_schemas(target, batch, CFG)
    assert t2 is target and b2 is batch


def test_degraded_lock_skips_destructive_maintenance(
    spark, tmp_path, monkeypatch
):
    """On platforms without fcntl, _commit_lock degrades to best-effort:
    _commit_transaction already refuses to clear an unexplained gen dir
    there, and the OTHER two lock takers must match it (ADVICE r12) —
    the orphan sweep must NOT rmtree an above-live gen dir (it cannot be
    proven a crashed orphan rather than a rival's renamed-but-unpublished
    commit), and the post-vacuum ledger persist must NOT rewrite the
    manifest (the check-then-write is only race-free under the lock;
    skipping is loss-free — the rival's vacuum re-deletes harmlessly)."""
    import contextlib

    path = str(tmp_path / "degraded")
    t = ScdTable(spark, path, CFG, partition_buckets=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0

    # A rival's renamed-but-not-yet-published generation dir (above live).
    rival = os.path.join(path, f"{GEN_PREFIX}00000001")
    os.makedirs(rival)
    marker = os.path.join(rival, "rivals_data.parquet")
    with open(marker, "wb") as f:
        f.write(b"x")

    @contextlib.contextmanager
    def no_flock(self):
        yield False

    monkeypatch.setattr(ScdTable, "_commit_lock", no_flock)
    t._sweep_orphan_generations()
    assert os.path.exists(marker), (
        "degraded sweep must not clear a possible rival commit"
    )
    with open(t._manifest_path()) as f:
        disk_before = f.read()
    live = t._read_manifest()
    t._persist_ledger_if_unchanged(
        {**live, "superseded": {"999": ["poison"]}}, live["gen"]
    )
    with open(t._manifest_path()) as f:
        assert f.read() == disk_before, (
            "degraded ledger persist must skip the unlocked check-then-write"
        )
    monkeypatch.undo()

    # With the real lock back, the same orphan IS swept (tidiness path).
    t._sweep_orphan_generations()
    assert not os.path.exists(rival), "locked sweep still clears orphans"


@pytest.mark.parametrize("op", ["build", "delete_keys", "rebucket", "restore"])
def test_aborted_rebucket_leaves_handle_usable(spark, tmp_path, monkeypatch, op):
    """A write that LOSES the commit race aborts with nothing visible,
    whatever the operation — merge (``build``), ``delete_keys``,
    ``rebucket`` or ``restore`` all commit through one transaction: the
    ConcurrentWriteError surfaces, the manifest is byte-identical, no
    stage dir is left behind, and the handle stays on the OLD mapping
    (flipping partition_buckets before the commit meant an aborted
    rebucket bricked every later build() on this handle with the
    bucket-count-mismatch error)."""
    import pytest as _pytest

    from dbt_scd2_utils_spark.plans.build import (
        STAGE_PREFIX,
        ConcurrentWriteError,
        ScdTable as _ScdTable,
    )

    path = str(tmp_path / "rb_abort")
    t = ScdTable(spark, path, CFG, partition_buckets=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    with open(t._manifest_path(), "rb") as f:
        manifest_before = f.read()
    attempt = {
        "build": lambda: t.build(
            spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
        ),
        "delete_keys": lambda: t.delete_keys(
            spark.createDataFrame([(1,)], "customer_id int")
        ),
        "rebucket": lambda: t.rebucket(16),
        "restore": lambda: t.restore(0),
    }[op]

    def lose_the_race(self, stage_dir, gen_dir, base_gen, manifest):
        import shutil as _sh

        _sh.rmtree(stage_dir, ignore_errors=True)
        raise ConcurrentWriteError("injected: rival committed first")

    monkeypatch.setattr(_ScdTable, "_commit_transaction", lose_the_race)
    with _pytest.raises(ConcurrentWriteError):
        attempt()
    monkeypatch.undo()

    with open(t._manifest_path(), "rb") as f:
        assert f.read() == manifest_before, "aborted commit left the manifest"
    assert not [n for n in os.listdir(path) if n.startswith(STAGE_PREFIX)]
    assert t.partition_buckets == 4, "aborted commit must not flip state"
    # ... and the handle keeps merging under the old mapping, no mismatch.
    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    _assert_same(out, _expected(spark, str(tmp_path / "rba12"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]))
    assert t._read_manifest()["bucket_count"] == 4


def test_concurrent_threads_serialize_without_lost_updates(spark, tmp_path):
    """TRUE concurrency integration pin: two threads merge interleaved
    batches into one table, retrying on ConcurrentWriteError — every
    batch must land exactly once (no lost updates, no double-applies)
    and the final state must equal the sequential build.  Disjoint key
    ranges make the expected state order-independent, so any real
    interleaving the race produces is checkable."""
    import threading

    from dbt_scd2_utils_spark.plans.build import ConcurrentWriteError

    path = str(tmp_path / "threads")
    base = ScdTable(spark, path, CFG, partition_buckets=8)
    base.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))

    def shift(batch, off):
        return [
            tuple((v + off if i == 0 else v) for i, v in enumerate(row))
            for row in batch
        ]

    # Thread B works a disjoint key range (ids shifted by +10_000).
    a_batches = [CUSTOMERS_RAW[2], CUSTOMERS_RAW[3]]
    b_batches = [shift(CUSTOMERS_RAW[2], 10_000), shift(CUSTOMERS_RAW[3], 10_000)]
    failures: list[str] = []
    conflicts = [0]

    def writer(batches):
        handle = ScdTable(spark, path, CFG, partition_buckets=8)
        for b in batches:
            df = spark.createDataFrame(b, CUSTOMERS_SCHEMA)
            for _attempt in range(30):
                try:
                    handle.build(df)
                    break
                except ConcurrentWriteError:
                    conflicts[0] += 1
            else:
                failures.append("retries exhausted")

    ta = threading.Thread(target=writer, args=(a_batches,))
    tb = threading.Thread(target=writer, args=(b_batches,))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not failures, failures

    # Expected: the same batches applied sequentially (each thread's own
    # order preserved; cross-thread order irrelevant on disjoint keys).
    exp_path = str(tmp_path / "threads_seq")
    exp = ScdTable(spark, exp_path, CFG)
    for b in [CUSTOMERS_RAW[1]] + a_batches + b_batches:
        want = exp.build(spark.createDataFrame(b, CUSTOMERS_SCHEMA))
    got = ScdTable(spark, path, CFG).read()
    _assert_same(got, want)
    # Commit log is a serial history: one generation per successful merge.
    assert ScdTable(spark, path, CFG, partition_buckets=8)._read_manifest()[
        "gen"
    ] == 4


@pytest.mark.slow
def test_bucketed_sink_composes_with_salted_merge(spark, tmp_path):
    """merge_fn: the bucketed sink and the salted hot-key chain COMPOSE —
    bucketing shards tables, salting shards keys, and the recommended
    100-TB configuration is both at once.  A bucketed table merging
    through scd2_incremental_salted (threshold 2 routes nearly every key
    through the salted chain) must equal the plain build exactly, and
    the commit must still release the salted chain's checkpointed
    intermediates."""
    from functools import partial

    from dbt_scd2_utils_spark.operators.scd2_salted import (
        scd2_incremental_salted,
    )

    path = str(tmp_path / "salted_buckets")
    t = ScdTable(
        spark, path, CFG, partition_buckets=4,
        merge_fn=partial(scd2_incremental_salted, salts=4, hot_key_threshold=2),
    )
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))
    _assert_same(out, _expected(spark, str(tmp_path / "sb123"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2],
                                 CUSTOMERS_RAW[3]]))
    # Default-handle read of the salted-merged table is unaffected.
    _assert_same(ScdTable(spark, path, CFG).read(), out)


# ---- manifest row bound: merge routing without probe jobs -----------------


class _MergeProbe:
    """``merge_fn`` wrapper recording, per merge call, the row bound the
    sink attached to the target slice, whether the merge broadcasts its
    source (the hint on the target LEFT JOIN source), and the Spark jobs
    the call submitted (under its own job group) before returning."""

    def __init__(self, spark, strategy):
        self.sc = spark.sparkContext
        self.strategy = strategy
        self.bounds, self.broadcasts, self.results, self._groups = [], [], [], []

    def __call__(self, target, batch, cfg):
        group = f"merge_fn-{id(self)}-{len(self._groups)}"
        self._groups.append(group)
        self.bounds.append(getattr(target, "_scd_row_bound", None))
        self.sc.setJobGroup(group, "merge_fn")
        try:
            out = self.strategy(target, batch, cfg)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        self.broadcasts += [
            "rightHint=(strategy=broadcast)" in line
            for line in plan.splitlines() if "Join LeftOuter" in line
        ]
        self.results.append(out)
        return out

    def jobs(self) -> list:
        """Jobs of the last call, once the listener bus has caught up."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(self.sc.statusTracker().getJobIdsForGroup(self._groups[-1]))


def _probed_table(spark, path, **kw):
    from functools import partial

    from dbt_scd2_utils_spark.operators.scd2_salted import (
        scd2_incremental_adaptive,
    )

    routes: list = []
    probe = _MergeProbe(
        spark, partial(scd2_incremental_adaptive, route_log=routes, **kw)
    )
    t = ScdTable(spark, path, CFG, partition_buckets=4, merge_fn=probe)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    return t, probe, routes


def test_manifest_bound_merge_submits_no_jobs(spark, tmp_path):
    """With the manifest's row counts known, the adaptive merge settles
    both the hot-key route and the broadcast from the bound: the
    ``merge_fn`` call inside ``build`` is plan construction only, and the
    table equals the unbucketed build."""
    t, probe, routes = _probed_table(spark, str(tmp_path / "bound"))
    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    out = t.build(b2)
    assert probe.jobs() == []
    assert routes == [("plain", 0)]
    assert_bucket_local_plan(probe.results[0])
    # The bound is exact here: the affected buckets' rows plus the batch.
    m0 = json.load(open(t._snapshot_manifest_path(0)))
    slice_rows = sum(m0["buckets"][b]["rows"] for b in _touched(t, b2))
    assert probe.bounds == [slice_rows + b2.count()]
    _assert_same(out, _expected(spark, str(tmp_path / "p"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]))


def test_merge_plans_one_lag_of_the_content_hash(spark, tmp_path):
    """The run ids and the changes-only filter read one materialized
    ``lag(_scd2_hash)``: Catalyst extracts every inline occurrence of a
    window expression into its own window column, so a lag written twice
    is computed twice.  The bucket-local merge computes it once; the
    broadcast chain's plan repeats its cached merge source once per
    reference, and no ``Window`` in it computes the lag twice."""
    from dbt_scd2_utils_spark import scd2_incremental, scd2_initial_load

    t, probe, _ = _probed_table(spark, str(tmp_path / "lag"))
    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    t.build(b2)
    broadcast = scd2_incremental(
        scd2_initial_load(
            spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA), CFG
        ),
        b2,
        CFG,
        broadcast_source=True,
    )
    plans = [
        m._jdf.queryExecution().executedPlan().toString()
        for m in (probe.results[0], broadcast)
    ]
    assert plans[0].count("lag(_scd2_hash") == 1, plans[0]
    for plan in plans:
        windows = [ln for ln in plan.splitlines() if "Window [" in ln]
        assert windows and all(
            ln.count("lag(_scd2_hash") <= 1 for ln in windows
        ), plan


def _assert_probed_fallback(spark, tmp_path, t, probe):
    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    assert probe.bounds == [None]
    assert probe.jobs(), "without a bound the merge must run its probes"
    _assert_same(out, _expected(spark, str(tmp_path / "p"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]))


def test_manifest_bound_unknown_rows_falls_back_to_probes(spark, tmp_path):
    """A ``rows: -1`` entry (footer count unknown) gives no bound."""
    t, probe, routes = _probed_table(spark, str(tmp_path / "unknown"))
    mp = t._manifest_path()
    m = json.load(open(mp))
    for e in m["buckets"].values():
        e["rows"] = -1
    json.dump(m, open(mp, "w"))
    _assert_probed_fallback(spark, tmp_path, t, probe)
    assert routes == [("plain", 0)]


def test_manifest_bound_stale_manifest_falls_back_to_probes(spark, tmp_path):
    """A stale manifest's row counts describe files that are gone: the
    relisted slice merges through the probes."""
    t, probe, routes = _probed_table(spark, str(tmp_path / "stale"))
    mp = t._manifest_path()
    m = json.load(open(mp))
    for b, e in m["buckets"].items():
        e["paths"] = [f"{BUCKET_COL}={b}/part-gone-from-a-crash.parquet"]
    json.dump(m, open(mp, "w"))
    _assert_probed_fallback(spark, tmp_path, t, probe)
    assert routes == [("plain", 0)]


def test_manifest_bound_at_threshold_still_detects_hot_keys(spark, tmp_path):
    """A bound at or above the threshold proves nothing: detection runs and
    a key over the threshold still routes salted."""
    t, probe, routes = _probed_table(
        spark, str(tmp_path / "hot"), salts=4, hot_key_threshold=3
    )
    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    assert probe.bounds[0] is not None and probe.bounds[0] >= 3
    assert probe.jobs()
    assert [r for r, _ in routes] == ["salted"]
    _assert_same(out, _expected(spark, str(tmp_path / "p"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]))


def test_manifest_bound_loses_to_explicit_broadcast_false(spark, tmp_path):
    """An explicit ``broadcast_source=False`` wins over the bound: the merge
    source carries no broadcast hint."""
    t, probe, routes = _probed_table(
        spark, str(tmp_path / "nobc"), broadcast_source=False
    )
    out = t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    assert probe.bounds[0] is not None and routes == [("plain", 0)]
    assert probe.broadcasts == [False]
    _assert_same(out, _expected(spark, str(tmp_path / "p"),
                                [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]))


# ---- restore (RESTORE TABLE ... VERSION AS OF in miniature) ---------------


def test_restore_opens_only_the_target_snapshot(spark, tmp_path, monkeypatch):
    """restore(G) reads generation G's snapshot file and no other: the
    cost of finding the target does not grow with the retention window."""
    import re

    import dbt_scd2_utils_spark.plans.build as build_mod

    t = ScdTable(spark, str(tmp_path / "one"), CFG, partition_buckets=4,
                 retain_generations=10)
    for i in (1, 2, 3, 4):
        t.build(spark.createDataFrame(CUSTOMERS_RAW[i], CUSTOMERS_SCHEMA))
    assert len(t._snapshots()) == 4
    opened = []

    def spy(path, mode="r", *a, **kw):
        if "r" in mode and re.search(r"_scd_manifest\.\d+\.json$", str(path)):
            opened.append(os.path.basename(path))
        return open(path, mode, *a, **kw)

    monkeypatch.setattr(build_mod, "open", spy, raising=False)
    t.restore(1)
    monkeypatch.undo()
    assert opened == ["_scd_manifest.00000001.json"]
    assert t._read_manifest()["op"] == "restore"


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """restore(G) repoints the table at generation G's exact state via a
    NEW commit: history advances (op='restore'), the read equals the
    historical state, and a subsequent merge builds on the restored state
    exactly as if the rolled-back-over commits never happened."""
    path = str(tmp_path / "rst")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1

    out = t.restore(0)  # gen 2 == gen 0 state
    m = t._read_manifest()
    assert m["gen"] == 2 and m["op"] == "restore"
    _assert_same(out, _expected(spark, str(tmp_path / "e0"), [CUSTOMERS_RAW[1]]))
    hist = {r["gen"]: r["op"] for r in t.history().collect()}
    assert hist[2] == "restore" and hist[1] == "merge"
    # The rolled-back-over state stays time-travel-readable.
    _assert_same(
        t.read_at_gen(1),
        _expected(spark, str(tmp_path / "e1"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]),
    )
    # A merge AFTER the restore builds on the restored state.
    t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))  # gen 3
    _assert_same(
        t.read(),
        _expected(spark, str(tmp_path / "e13"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[3]]),
    )


def test_restore_is_metadata_only(spark, tmp_path):
    """The restore commit moves ZERO data: its generation dir is empty and
    every bucket entry points at the restored generation's original files
    (the 100-TB claim — a rollback costs one manifest write)."""
    path = str(tmp_path / "rmeta")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    gen0_paths = _manifest_paths(t)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1
    t.restore(0)  # gen 2
    assert _manifest_paths(t) == gen0_paths, (
        "restore must REPOINT at gen 0's files, not copy them"
    )
    gen_dir = os.path.join(path, "_gen-00000002")
    assert os.path.isdir(gen_dir) and os.listdir(gen_dir) == []


def test_restore_ledger_exactness_through_vacuum(spark, tmp_path):
    """Vacuum stays exact across a restore: files the restore makes live
    again come OFF the superseded ledger (so later vacuums cannot delete
    the current state), files it displaces go ON it and age out on the
    normal schedule."""
    path = str(tmp_path / "rvac")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=1)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    gen0 = _manifest_paths(t)
    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    t.build(b2)  # gen 1: displaces gen-0 files of touched buckets (S=1)
    t.restore(0)  # gen 2: those files are LIVE again

    m = t._read_manifest()
    live = {r for paths in _manifest_paths(t).values() for r in paths}
    ledgered = {r for rels in m["superseded"].values() for r in rels}
    assert not (live & ledgered), "live files must never sit on the ledger"
    # Two more commits: S=2 (gen-1 files the restore displaced) falls out
    # of retention — the restored gen-0 files must SURVIVE every vacuum.
    t.build(b2)  # gen 3
    t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))  # gen 4
    for rel in {r for paths in gen0.values() for r in paths} - {
        r for b in _touched(t, b2) for r in gen0.get(b, [])
    }:
        assert os.path.exists(os.path.join(path, rel))
    _assert_same(
        t.read(),
        _expected(spark, str(tmp_path / "ev"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2], CUSTOMERS_RAW[3]]),
    )


def test_restore_out_of_retention_and_legacy_raise(spark, tmp_path):
    import pytest as _pytest

    path = str(tmp_path / "rerr")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=1)
    for i in (1, 2, 3, 4):
        t.build(spark.createDataFrame(CUSTOMERS_RAW[i], CUSTOMERS_SCHEMA))
    with _pytest.raises(ValueError, match="no retained snapshot"):
        t.restore(0)
    plain = ScdTable(spark, str(tmp_path / "plainr"), CFG)
    plain.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    with _pytest.raises(ValueError, match="generational table"):
        plain.restore(0)


def test_restore_rolls_back_a_rebucket_layout(spark, tmp_path):
    """restore() restores the LAYOUT too: rolling back over a rebucket
    reinstates the original bucket_count (the manifest is the one source
    of truth), and later merges route under the restored mapping."""
    path = str(tmp_path / "rlay")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    t.rebucket(16)  # gen 1
    assert t._read_manifest()["bucket_count"] == 16
    t.restore(0)  # gen 2: back to the 8-bucket layout
    assert t._read_manifest()["bucket_count"] == 8
    assert t.partition_buckets == 8
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 3
    _assert_same(
        t.read(),
        _expected(spark, str(tmp_path / "el"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]),
    )


# ---- delete_keys (GDPR hard delete, bucket-pruned) ------------------------


def test_delete_keys_bucket_pruned_and_idempotent(spark, tmp_path):
    """delete_keys removes EVERY retained version of the requested keys by
    rewriting only their buckets (untouched buckets keep their exact
    manifest entries), commits op='delete', and is idempotent."""
    path = str(tmp_path / "del")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    before = _manifest_paths(t)
    keys = spark.createDataFrame([(1,)], "customer_id int")

    out = t.delete_keys(keys)
    assert out.filter(F.col("customer_id") == 1).count() == 0
    want = _expected(
        spark, str(tmp_path / "ed"), [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]
    ).filter(F.col("customer_id") != 1)
    _assert_same(out, want)
    assert t._read_manifest()["op"] == "delete"

    after = _manifest_paths(t)
    touched = _touched(t, keys)
    for b in set(before) - touched:
        assert after[b] == before[b], "unaffected bucket entry must not change"
    # Idempotent: a second delete of the same keys leaves the same state.
    _assert_same(t.delete_keys(keys), want)
    # And a later merge works on the deleted table (key 1 can come back).
    t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))
    assert t.read().filter(F.col("customer_id") == 1).count() > 0


def test_delete_keys_empty_set_is_noop(spark, tmp_path):
    path = str(tmp_path / "del0")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    gen_before = t._read_manifest()["gen"]
    t.delete_keys(spark.createDataFrame([], "customer_id int"))
    assert t._read_manifest()["gen"] == gen_before


def test_delete_keys_unbucketed_falls_back_to_full_rewrite(spark, tmp_path):
    path = str(tmp_path / "delp")
    t = ScdTable(spark, path, CFG)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    out = t.delete_keys(spark.createDataFrame([(2,)], "customer_id int"))
    want = _expected(
        spark, str(tmp_path / "edp"), [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]
    ).filter(F.col("customer_id") != 2)
    _assert_same(out, want)


def test_delete_keys_physical_erasure_after_retention(spark, tmp_path):
    """The Delta-DELETE retention story, proven physically: deleted rows
    survive in OLDER generations' files until vacuum, then every parquet
    byte of them is gone — scanned off disk, not through the manifest."""
    path = str(tmp_path / "delg")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=1)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    keys = spark.createDataFrame([(2,)], "customer_id int")
    t.delete_keys(keys)

    def on_disk_has_key2() -> bool:
        files = [
            os.path.join(dp, n)
            for dp, _, names in os.walk(path)
            for n in names
            if n.endswith(".parquet")
        ]
        if not files:
            return False
        df = spark.read.option("mergeSchema", "true").parquet(*files)
        return df.filter(F.col("customer_id") == 2).count() > 0

    assert on_disk_has_key2(), "inside retention the old versions remain"
    # Later feed batches must not RE-INGEST the erased key (deleting a key
    # does not block future ingestion — GDPR flows stop the source first).
    for i in (3, 4):
        t.build(spark.createDataFrame(
            [r for r in CUSTOMERS_RAW[i] if r[0] != 2], CUSTOMERS_SCHEMA
        ))
    assert not on_disk_has_key2(), (
        "after retention elapses, vacuum must have physically erased the key"
    )


def test_restore_backfills_missing_displaced_snapshot(spark, tmp_path):
    """A crash between a commit's manifest replace and its snapshot write
    leaves the CURRENT generation snapshot-less; a restore that displaces
    it must backfill the snapshot first (same guarantee as the merge
    path), so the displaced state stays time-travel-readable."""
    path = str(tmp_path / "rbf")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=4)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1
    os.remove(t._snapshot_manifest_path(1))  # simulate the crash window
    t.restore(0)  # gen 2
    _assert_same(
        t.read_at_gen(1),
        _expected(spark, str(tmp_path / "ebf"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]),
    )


def test_restore_empty_gen_dir_pruned_after_retention(spark, tmp_path):
    """The metadata-only restore claims its number with an empty
    `_gen-<G>` dir; once that generation ages out of retention the vacuum
    sweep removes the empty dir (no unbounded metadata garbage)."""
    path = str(tmp_path / "rprune")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=1)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1
    t.restore(0)  # gen 2: empty dir
    gen2_dir = os.path.join(path, "_gen-00000002")
    assert os.path.isdir(gen2_dir)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 3
    t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))  # gen 4
    assert not os.path.exists(gen2_dir), (
        "aged-out empty restore generation dir must be vacuumed"
    )
    _assert_same(
        t.read(),
        _expected(spark, str(tmp_path / "eprune"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2], CUSTOMERS_RAW[3]]),
    )


def test_delete_keys_empty_set_noop_unbucketed(spark, tmp_path):
    """The unbucketed fallback must ALSO no-op on an empty key set (never
    a full-table rewrite for nothing) — parity with the bucketed path."""
    path = str(tmp_path / "delpe")
    t = ScdTable(spark, path, CFG)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    files_before = sorted(
        n for n in os.listdir(path) if n.endswith(".parquet")
    )
    t.delete_keys(spark.createDataFrame([], "customer_id int"))
    files_after = sorted(
        n for n in os.listdir(path) if n.endswith(".parquet")
    )
    assert files_after == files_before, "empty delete must not rewrite"


def test_read_at_timestamp_half_microsecond_commit_instant(spark, tmp_path):
    """Regression (caught live on 2026-08-17): a raw ``time.time()``
    commit instant whose sub-microsecond bits sit just past the .5 µs
    boundary (e.g. ...898.7639394) used to make the EXACT-INSTANT read
    miss by one microsecond — integer-rounding the ~1.8e15 µs product is
    lossy (double ulp 0.25 µs), so the candidate rounded UP to ...940
    while the history()-round-tripped input truncated to ...939.  The
    resolver now compares micro-precision datetimes derived through the
    same ``fromtimestamp`` as ``history()``, making the public
    round-trip equal by construction."""
    import datetime

    path = str(tmp_path / "halfus")
    t = ScdTable(spark, path, CFG, partition_buckets=8, retain_generations=2)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))  # gen 1

    crafted = 1786924898.7639394  # round(c*1e6) == ...940, micros == ...939
    for p in (t._manifest_path(), t._snapshot_manifest_path(0)):
        with open(p) as f:
            m = json.load(f)
        if m.get("gen") == 0 or p == t._snapshot_manifest_path(0):
            m["committed_at"] = crafted
            with open(p, "w") as f:
                json.dump(m, f)

    # The exact instant as the public surface serves it (history() row).
    row = [
        r for r in t.history()
        .select("gen", F.unix_micros("committed_at").alias("us"))
        .collect()
        if r["gen"] == 0
    ][0]
    ts = datetime.datetime.fromtimestamp(
        row["us"] / 1_000_000, datetime.timezone.utc
    )
    assert ts.microsecond == 763939
    _assert_same(
        t.read_at_timestamp(ts),
        _expected(spark, str(tmp_path / "whalf"), [CUSTOMERS_RAW[1]]),
    )


# ---- explicit vacuum (Delta VACUUM in miniature) --------------------------


def test_explicit_vacuum_retain_zero_erases_immediately(spark, tmp_path):
    """vacuum(0) deletes every superseded file NOW — no further commits
    needed — leaving the current state intact and time travel to the
    swept generations refusing with the retention error shape."""
    import pytest as _pytest

    path = str(tmp_path / "vacx")
    t = ScdTable(spark, path, CFG, partition_buckets=8)  # default retain
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))  # gen 0
    gen0 = _manifest_paths(t)
    b2 = spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA)
    t.build(b2)  # gen 1
    displaced = [rel for b in _touched(t, b2) for rel in gen0.get(b, [])]
    assert displaced and all(
        os.path.exists(os.path.join(path, r)) for r in displaced
    )

    removed = t.vacuum(0)
    assert removed == len(displaced)
    assert not any(os.path.exists(os.path.join(path, r)) for r in displaced)
    m = t._read_manifest()
    assert m["superseded"] == {}
    _assert_same(
        t.read(),
        _expected(spark, str(tmp_path / "evx"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2]]),
    )
    with _pytest.raises(ValueError, match="no retained snapshot"):
        t.read_at_gen(0)
    _assert_same(t.read_at_gen(1), t.read())  # current gen still serves
    # Nothing aged and nothing ledgered: a second sweep is a no-op.
    assert t.vacuum(0) == 0
    # A later merge works normally on the swept table.
    t.build(spark.createDataFrame(CUSTOMERS_RAW[3], CUSTOMERS_SCHEMA))
    _assert_same(
        t.read(),
        _expected(spark, str(tmp_path / "evx2"),
                  [CUSTOMERS_RAW[1], CUSTOMERS_RAW[2], CUSTOMERS_RAW[3]]),
    )


def test_delete_keys_then_vacuum_zero_is_full_physical_erasure(spark, tmp_path):
    """The GDPR completion: delete_keys + vacuum(0) leaves no parquet
    byte of the key on disk immediately — no waiting for retention."""
    path = str(tmp_path / "gdpr")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    t.delete_keys(spark.createDataFrame([(2,)], "customer_id int"))
    t.vacuum(0)
    files = [
        os.path.join(dp, n)
        for dp, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    ]
    assert files
    df = spark.read.option("mergeSchema", "true").parquet(*files)
    assert df.filter(F.col("customer_id") == 2).count() == 0


def test_explicit_vacuum_default_honors_recorded_retention(spark, tmp_path):
    """vacuum() with no override only collects what the next commit's
    deferred sweep would have collected — inside the window, nothing."""
    path = str(tmp_path / "vacd")
    t = ScdTable(spark, path, CFG, partition_buckets=8)  # retain default 2
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    ledgered = {
        r for rels in t._read_manifest()["superseded"].values() for r in rels
    }
    assert ledgered  # inside the retention window
    assert t.vacuum() == 0
    assert all(os.path.exists(os.path.join(path, r)) for r in ledgered)


def test_explicit_vacuum_degraded_lock_skips(spark, tmp_path, monkeypatch):
    """Without flock the explicit sweep must skip (loss-free option) —
    the ledger rewrite is only race-free under the lock."""
    import contextlib

    path = str(tmp_path / "vacdeg")
    t = ScdTable(spark, path, CFG, partition_buckets=8)
    t.build(spark.createDataFrame(CUSTOMERS_RAW[1], CUSTOMERS_SCHEMA))
    t.build(spark.createDataFrame(CUSTOMERS_RAW[2], CUSTOMERS_SCHEMA))
    ledgered = {
        r for rels in t._read_manifest()["superseded"].values() for r in rels
    }

    @contextlib.contextmanager
    def no_flock(self):
        yield False

    monkeypatch.setattr(ScdTable, "_commit_lock", no_flock)
    assert t.vacuum(0) == 0
    assert all(os.path.exists(os.path.join(path, r)) for r in ledgered)
    monkeypatch.undo()
    assert t.vacuum(0) == len(ledgered)  # locked sweep still works
