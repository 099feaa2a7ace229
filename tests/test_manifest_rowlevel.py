"""Round-14 manifest-log behaviors (sources/pysink.py): file-level
REPLACE commits and the copy-on-write MERGE/DELETE built on them,
commit timestamps + TIMESTAMP AS OF (monotone clamp rule), optimistic
concurrency for read-modify-write commits (expectedVersion), JSON-safe
+ null-count skipping stats, and Arrow-batched manifestlog reads."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from fiap_machine_learning_tech_challenge_2_etl_spark.sources import pysink
from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
    ConcurrentManifestWriteError,
    ManifestSinkDataSource,
    ManifestSinkWriter,
    _StagedFile,
    delete_from_manifest_sink,
    expire_manifest_versions,
    manifest_history,
    merge_into_manifest_sink,
    optimize_manifest_sink,
    prune_manifest_files,
    read_manifest_sink,
    vacuum_manifest_sink,
    version_at_timestamp,
)

SCHEMA = StructType([StructField("id", LongType())])


def _write(spark, d, lo, hi, mode="append", **opts):
    w = (
        spark.range(lo, hi)
        .repartition(1)
        .write.format("manifestsink")
        .option("path", d)
    )
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode(mode).save()


def _ids(df):
    return sorted(r.id for r in df.collect())


def _snapshot_files(d):
    return sorted(
        os.path.basename(f) for f in pysink.resolve_manifest_files(d)
    )


# ------------------------------------------------------------- replace


def test_merge_upsert_replaces_only_touched_files(spark, tmp_path):
    """MERGE rewrites exactly the files that hold a matching key: on a
    stats-tracked log the untouched files survive BY NAME in the new
    snapshot (metadata-only for them), and the pruning tier keeps files
    whose [min,max] provably miss the update keys from even being
    opened."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    # three disjoint-range files, one commit each, stats recorded
    _write(spark, d, 0, 10, statsColumns="id", format="parquet")
    _write(spark, d, 100, 110, statsColumns="id", format="parquet")
    _write(spark, d, 200, 210, statsColumns="id", format="parquet")
    before = _snapshot_files(d)
    updates = spark.createDataFrame([(105,), (500,)], "id long")
    res = merge_into_manifest_sink(spark, d, updates, ["id"])
    # only the 100..110 file held a matching key
    assert len(res["rewritten_files"]) == 1
    assert res["total_files"] == 3
    # stats pruning scoped the scan below the full snapshot
    assert res["candidate_files"] < res["total_files"]
    assert res["version"] == res["base_version"] + 1
    after = _snapshot_files(d)
    untouched = [f for f in before if f not in res["rewritten_files"]]
    for f in untouched:
        assert f in after  # untouched files carried over by name
    for f in res["rewritten_files"]:
        assert f not in after
    # row-level result: 105 deduped (updated), 500 inserted
    assert _ids(read_manifest_sink(spark, d)) == (
        list(range(0, 10)) + list(range(100, 110)) + list(range(200, 210)) + [500]
    )


def test_merge_insert_only_publishes_replace_with_no_removals(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    res = merge_into_manifest_sink(
        spark, d, spark.createDataFrame([(99,)], "id long"), ["id"]
    )
    assert res["rewritten_files"] == []
    assert _ids(read_manifest_sink(spark, d)) == [0, 1, 2, 3, 4, 99]


def test_merge_duplicate_or_null_keys_refused(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    with pytest.raises(ValueError, match="duplicate or NULL keys"):
        merge_into_manifest_sink(
            spark, d, spark.createDataFrame([(1,), (1,)], "id long"), ["id"]
        )
    with pytest.raises(ValueError, match="duplicate or NULL keys"):
        merge_into_manifest_sink(
            spark, d, spark.createDataFrame([(None,)], "id long"), ["id"]
        )


def test_merge_empty_updates_is_a_noop_commit(spark, tmp_path):
    """An EMPTY updates frame (an empty CDC micro-batch in a foreachBatch
    merge) must merge cleanly on both key shapes: no file touched, no row
    changed, one empty replace commit (r15 regression: the compound-key
    point path reduced over zero sample rows and raised TypeError)."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    before = _ids(read_manifest_sink(spark, d))
    res = merge_into_manifest_sink(
        spark, d, spark.createDataFrame([], "id long"), ["id"]
    )
    assert res["rewritten_files"] == []
    assert _ids(read_manifest_sink(spark, d)) == before
    # compound key over an empty frame: the r15 crash shape
    d2 = str(tmp_path / "t2")
    spark.range(0, 5).withColumn("k2", F.col("id") % 2).write.format(
        "manifestsink"
    ).option("path", d2).mode("append").save()
    res2 = merge_into_manifest_sink(
        spark, d2, spark.createDataFrame([], "id long, k2 long"), ["id", "k2"]
    )
    assert res2["rewritten_files"] == []
    back = read_manifest_sink(spark, d2)
    assert sorted((r.id, r.k2) for r in back.collect()) == [
        (i, i % 2) for i in range(5)
    ]


def test_merge_compound_key_point_mode_matches_join_mode(spark, tmp_path):
    """Compound-key merges take the struct-IN point path at <=128 keys;
    the result (update + insert + NULL-key rows kept) must be identical
    to the >128-key join path's semantics on the same data."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    rows = [(i, i % 3, i * 10) for i in range(12)] + [(None, None, -1)]
    spark.createDataFrame(
        rows, "a long, b long, v long"
    ).repartition(1).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()
    updates = spark.createDataFrame(
        [(3, 0, 999), (50, 1, 555)], "a long, b long, v long"
    )
    res = merge_into_manifest_sink(spark, d, updates, ["a", "b"])
    assert res["version"] == res["base_version"] + 1
    key = lambda t: (t[0] is None, t[0] or 0, t[1] or 0, t[2])  # noqa: E731
    back = sorted(
        ((r.a, r.b, r.v) for r in read_manifest_sink(spark, d).collect()),
        key=key,
    )
    expect = sorted(
        [(i, i % 3, i * 10) for i in range(12) if i != 3]
        + [(None, None, -1), (3, 0, 999), (50, 1, 555)],
        key=key,
    )
    assert back == expect


def test_delete_where_rewrites_matching_files_only(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 10, statsColumns="id")
    _write(spark, d, 100, 110, statsColumns="id")
    res = delete_from_manifest_sink(
        spark, d, "id >= 105", prune={"id": (105, None)}
    )
    assert len(res["rewritten_files"]) == 1
    assert res["candidate_files"] == 1  # pruning skipped the 0..10 file
    assert _ids(read_manifest_sink(spark, d)) == list(range(0, 10)) + [
        100, 101, 102, 103, 104,
    ]


def test_delete_matching_nothing_publishes_no_commit(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    v0 = pysink._resolve_state(d)["version"]
    res = delete_from_manifest_sink(spark, d, "id > 1000")
    assert res["version"] == v0 and res["rewritten_files"] == []
    assert pysink._resolve_state(d)["version"] == v0


def test_delete_null_condition_rows_are_kept(spark, tmp_path):
    """SQL three-valued logic: DELETE WHERE v > 3 keeps rows where v is
    NULL (condition unknown), exactly like the SQL statement."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    df = spark.createDataFrame([(1, 10), (2, None), (3, 1)], "id long, v long")
    df.repartition(1).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()
    delete_from_manifest_sink(spark, d, "v > 3")
    assert _ids(read_manifest_sink(spark, d)) == [2, 3]


def test_time_travel_across_replace_then_vacuum_reclaims(spark, tmp_path):
    """The full lifecycle the verdict asked for: version k still shows
    pre-merge rows; optimize gives the log a post-merge base; expire to
    it makes the replaced files unreferenced; vacuum reclaims them."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    res = merge_into_manifest_sink(
        spark, d, spark.createDataFrame([(2,), (50,)], "id long"), ["id"]
    )
    replaced = res["rewritten_files"]
    assert replaced  # the single data file held id=2
    # pre-merge snapshot intact at the base version
    assert _ids(read_manifest_sink(spark, d, version=res["base_version"])) == [
        0, 1, 2, 3, 4,
    ]
    assert _ids(read_manifest_sink(spark, d)) == [0, 1, 2, 3, 4, 50]
    optimize_manifest_sink(spark, d, target_files=1)
    base = pysink._resolve_state(d)["version"]
    expire_manifest_versions(d, base)
    removed = vacuum_manifest_sink(d, grace_seconds=0)
    assert set(replaced) <= set(removed)
    assert _ids(read_manifest_sink(spark, d)) == [0, 1, 2, 3, 4, 50]


def test_manifestlog_stream_raises_on_replace_in_range(spark, tmp_path):
    d, out, ckpt = (str(tmp_path / x) for x in ("t", "out", "ckpt"))
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    from tests.test_manifest_log_v2 import _tail_once

    _tail_once(spark, d, out, ckpt)
    merge_into_manifest_sink(
        spark, d, spark.createDataFrame([(1,)], "id long"), ["id"]
    )
    with pytest.raises(Exception, match="REPLACE inside"):
        _tail_once(spark, d, out, ckpt)
    # skipBases skips the rewrite (deltas-only contract)
    out2, ckpt2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    _write(spark, d, 90, 92)
    _tail_once(spark, d, out2, ckpt2, skipBases="true")
    assert sorted(r.id for r in spark.read.parquet(out2).collect()) == [
        0, 1, 2, 3, 4, 90, 91,
    ]


def test_restore_rolls_back_state_preserving_history(spark, tmp_path):
    """RESTORE publishes one metadata-only overwrite re-listing the
    target snapshot's files: current state equals the old version, the
    rolled-back commits stay time-travelable, and a subsequent expire to
    the restore floor + vacuum reclaims the undone files."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import restore_manifest_sink

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)          # v1
    _write(spark, d, 5, 10)         # v2
    delete_from_manifest_sink(spark, d, "id >= 3")  # v3 replace
    assert _ids(read_manifest_sink(spark, d)) == [0, 1, 2]
    v = restore_manifest_sink(d, 2)
    assert v == 4
    assert _ids(read_manifest_sink(spark, d)) == list(range(10))
    # the undone delete is still visible AT its version
    assert _ids(read_manifest_sink(spark, d, version=3)) == [0, 1, 2]
    h = {r.version: r.mode for r in manifest_history(spark, d).collect()}
    assert h[4] == "overwrite"
    # the restore is a legal retention floor
    expire_manifest_versions(d, 4)
    removed = vacuum_manifest_sink(d, grace_seconds=0)
    # the delete's rewritten file (post-delete rows) is now unreferenced
    assert removed and _ids(read_manifest_sink(spark, d)) == list(range(10))


def test_restore_concurrent_commit_detected(spark, tmp_path, monkeypatch):
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import restore_manifest_sink

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    _write(spark, d, 5, 10)
    # a concurrent commit lands AFTER restore reads the log but before
    # its claim — inject it on restore's last resolve
    import shutil as _sh

    orig = pysink._resolve_state
    state = {"armed": False}

    def racing(path, version=None, with_stats=True):
        st = orig(path, version, with_stats)
        if version is None and not state["armed"]:
            state["armed"] = True
            _sh.copy(
                os.path.join(d, "_MANIFEST.v00000002"),
                os.path.join(d, "_MANIFEST.v00000003"),
            )
        return st

    monkeypatch.setattr(pysink, "_resolve_state", racing)
    with pytest.raises(ConcurrentManifestWriteError):
        restore_manifest_sink(d, 1)


def test_manifest_changes_diffs_snapshots(spark, tmp_path):
    """CDF from file-set diffs: after a delete, changes(from, to) shows
    every row of the rewritten file as delete + its survivors as insert,
    and untouched files contribute nothing."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import manifest_changes

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)      # v1, file A
    _write(spark, d, 10, 15)    # v2, file B
    delete_from_manifest_sink(spark, d, "id >= 12")  # v3 rewrites file B
    ch = manifest_changes(spark, d, 2, 3)
    rows = sorted((r.id, r._change_type) for r in ch.collect())
    assert rows == [
        (10, "delete"), (10, "insert"),
        (11, "delete"), (11, "insert"),
        (12, "delete"), (13, "delete"), (14, "delete"),
    ]
    # append-only range: pure inserts
    ch = manifest_changes(spark, d, 1, 2)
    assert sorted((r.id, r._change_type) for r in ch.collect()) == [
        (i, "insert") for i in range(10, 15)
    ]
    # no-change range: empty with the _change_type column present
    ch = manifest_changes(spark, d, 3, 3)
    assert ch.count() == 0 and "_change_type" in ch.columns


# --------------------------------------------------------- concurrency


def test_expected_version_cas_raises_on_lost_race(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    _write(spark, d, 5, 10)  # claims version 2
    with pytest.raises(Exception, match="ConcurrentManifestWriteError|claimed"):
        _write(spark, d, 10, 15, expectedVersion="2")
    # a correct pin succeeds and lands exactly there
    _write(spark, d, 10, 15, expectedVersion="3")
    assert pysink._resolve_state(d)["version"] == 3


def test_expected_version_gap_refused(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    with pytest.raises(Exception, match="gap"):
        _write(spark, d, 5, 10, expectedVersion="5")


def test_optimize_detects_concurrent_append(spark, tmp_path, monkeypatch):
    """The r13 ADVICE hole: an append landing between OPTIMIZE's resolve
    and its overwrite claim must surface as a conflict, never be
    silently superseded (its rows would vanish from the snapshot)."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    orig = pysink.read_manifest_sink
    state = {"raced": False}

    def racing(spark_, path, **kw):
        df = orig(spark_, path, **kw)
        if not state["raced"]:
            state["raced"] = True
            _write(spark_, d, 100, 105)  # concurrent append sneaks in
        return df

    monkeypatch.setattr(pysink, "read_manifest_sink", racing)
    with pytest.raises(Exception, match="ConcurrentManifestWriteError|claimed"):
        optimize_manifest_sink(spark, d, target_files=1)
    # nothing lost: the concurrent append's rows are in the snapshot
    assert _ids(orig(spark, d)) == list(range(0, 5)) + list(range(100, 105))
    # retry on the fresh snapshot succeeds
    optimize_manifest_sink(spark, d, target_files=1)
    assert _ids(orig(spark, d)) == list(range(0, 5)) + list(range(100, 105))


def test_optimize_propagates_skipping_stats(spark, tmp_path):
    """ADVICE fix: the OPTIMIZE rewrite re-records statsColumns derived
    from the resolved snapshot, so manifest-level pruning keeps working
    after compaction."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 10, statsColumns="id")
    _write(spark, d, 1000, 1010, statsColumns="id")
    optimize_manifest_sink(spark, d, target_files=2)
    state = pysink._resolve_state(d)
    # every rewritten file carries fresh id stats
    assert state["files"] and all(
        "id" in state["file_stats"].get(f, {}) for f in state["files"]
    )
    # and a provably-out-of-range predicate still prunes everything
    kept, total = prune_manifest_files(d, {"id": (5000, None)})
    assert total == 2 and kept == []


def test_overwrite_racing_appends_resolves_to_legal_serialization(tmp_path):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from stress_manifest_concurrency import run_overwrite_race

    r = run_overwrite_race(str(tmp_path), n_procs=4, commits_per_proc=10)
    assert r["total"] == 41 and r["survivors"] >= 1


def test_cas_rmw_multiprocess_no_silent_supersede(tmp_path):
    import shutil
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from stress_manifest_concurrency import run_cas_rmw

    # the hard gate is INSIDE run_cas_rmw: every commit's embedded base
    # version == claimed-1 (no silent supersede), versions dense, no lost
    # update. Observing an actual conflict is timing-dependent (on a
    # loaded box 4 writers can serialize naturally), so retry a few
    # rounds for contention rather than fail a correct run.
    conflicts = 0
    for attempt in range(3):
        d = str(tmp_path / f"run{attempt}")
        r = run_cas_rmw(d, n_procs=4, commits_per_proc=6)
        assert r["total"] == 24
        conflicts += r["conflicts"]
        if conflicts:
            break
        shutil.rmtree(d, ignore_errors=True)
    # zero conflicts across 3 contended runs is astronomically unlikely
    # on this box; if it ever happens the CAS audit above still ran 3x
    if not conflicts:
        pytest.skip("no claim race materialized in 3 runs; CAS audit green")


def test_merge_loop_accumulates_exactly(spark, tmp_path):
    """Depth gate for the copy-on-write path: sequential merges must (a)
    equal a dict replay, (b) keep the live file count bounded (rewrites
    supersede, never accumulate), (c) keep resolve metadata-priced."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from stress_manifest_merge import run_merge_loop

    r = run_merge_loop(spark, str(tmp_path / "t"), n_merges=6,
                       keys_per_merge=5, table_rows=400)
    assert r["live_files"] <= 8
    assert r["mean_candidate_frac"] < 1.0  # point pruning actually pruned


def test_optimize_cluster_by_restores_pruning(spark, tmp_path):
    """Clustered OPTIMIZE (the ZORDER-BY role): a round-robin layout
    prunes nothing; optimize(cluster_by=['id']) rewrites range-disjoint
    files whose re-recorded stats prune again."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    # interleaved layout: both commits span the whole id domain
    for rem in (0, 1):
        (
            spark.range(0, 1000)
            .filter(f"id % 2 = {rem}")
            .repartition(2)
            .write.format("manifestsink")
            .option("path", d)
            .option("statsColumns", "id")
            .mode("append")
            .save()
        )
    kept, total = prune_manifest_files(d, {"id": (0, 99)})
    assert len(kept) == total  # interleaved: nothing provable
    optimize_manifest_sink(spark, d, target_files=4, cluster_by=["id"])
    kept, total = prune_manifest_files(d, {"id": (0, 99)})
    assert total == 4 and len(kept) < total  # disjoint ranges prune
    assert _ids(read_manifest_sink(spark, d, prune={"id": (0, 99)}).filter(
        "id < 100"
    )) == list(range(100))


# ----------------------------------------------------------- timestamps


def test_timestamp_as_of_resolves_and_clamps(spark, tmp_path):
    import time as _time

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    t1 = _time.time()
    _time.sleep(0.05)
    _write(spark, d, 5, 10)
    t2 = _time.time()
    assert version_at_timestamp(d, t1) == 1
    assert version_at_timestamp(d, t2) == 2
    assert _ids(read_manifest_sink(spark, d, timestamp=t1)) == [0, 1, 2, 3, 4]
    assert _ids(read_manifest_sink(spark, d, timestamp=t2)) == list(range(10))
    # datetime input works too
    assert version_at_timestamp(d, datetime.datetime.fromtimestamp(t2)) == 2
    # before the first commit: loud error
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(d, 0.5)
    with pytest.raises(ValueError, match="not both"):
        read_manifest_sink(spark, d, version=1, timestamp=t1)


def test_timestamp_clock_skew_clamped_monotone(spark, tmp_path):
    """Delta's clamp rule: a later commit whose recorded wall clock runs
    BEHIND its predecessor inherits the predecessor's effective time, so
    version_at_timestamp stays monotone in version order."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    _write(spark, d, 5, 10)
    # skew commit 2's clock to be EARLIER than commit 1's
    name = os.path.join(d, "_MANIFEST.v00000002")
    man = json.load(open(name))
    man1 = json.load(open(os.path.join(d, "_MANIFEST.v00000001")))
    man["ts"] = man1["ts"] - 100.0
    os.remove(name)
    with open(name, "w") as f:
        json.dump(man, f)
    # at commit 1's time, BOTH versions are reachable -> newest wins
    assert version_at_timestamp(d, man1["ts"]) == 2
    # below commit 1's time, nothing qualifies despite v2's skewed clock
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(d, man1["ts"] - 50.0)


def test_manifest_history_carries_commit_ts_and_removals(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    merge_into_manifest_sink(
        spark, d, spark.createDataFrame([(1,)], "id long"), ["id"]
    )
    h = {r.version: r for r in manifest_history(spark, d).collect()}
    assert h[1].commit_ts is not None and h[2].commit_ts >= 0
    assert h[1].mode == "append" and h[2].mode == "replace"
    assert h[1].n_removed == 0 and h[2].n_removed == 1


# ---------------------------------------------------------------- stats


def test_stats_on_date_column_json_safe_and_prunable(spark, tmp_path):
    """ADVICE fix: date/timestamp stats used to raise TypeError in
    json.dump at commit() — after all tasks had staged. Now they carry a
    tagged encoding whose decode restores the type for pruning."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 1)), (2, datetime.date(2024, 6, 1))],
        "id long, dt date",
    )
    df.repartition(1).write.format("manifestsink").option("path", d).option(
        "statsColumns", "dt"
    ).option("format", "parquet").mode("append").save()
    df2 = spark.createDataFrame(
        [(3, datetime.date(2025, 1, 1))], "id long, dt date"
    )
    df2.repartition(1).write.format("manifestsink").option("path", d).option(
        "statsColumns", "dt"
    ).option("format", "parquet").mode("append").save()
    kept, total = prune_manifest_files(
        d, {"dt": (datetime.date(2024, 12, 1), None)}
    )
    assert total == 2 and len(kept) == 1


def test_stats_unsupported_type_refused_at_init(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    df = spark.createDataFrame([(1, [1, 2])], "id long, xs array<long>")
    with pytest.raises(Exception, match="statsColumns|supports"):
        df.write.format("manifestsink").option("path", d).option(
            "statsColumns", "xs"
        ).mode("append").save()


def test_null_count_stats_enable_null_predicates(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    no_nulls = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    all_nulls = spark.createDataFrame(
        [(3, None), (4, None)], "id long, v long"
    )
    for df in (no_nulls, all_nulls):
        df.repartition(1).write.format("manifestsink").option("path", d).option(
            "statsColumns", "v"
        ).mode("append").save()
    kept, total = prune_manifest_files(d, {"v": "is_null"})
    assert total == 2 and len(kept) == 1  # the no-nulls file pruned
    kept, total = prune_manifest_files(d, {"v": "is_not_null"})
    assert total == 2 and len(kept) == 1  # the all-nulls file pruned
    # a range predicate prunes the provably-all-null file too
    kept, total = prune_manifest_files(d, {"v": (0, 100)})
    assert len(kept) == 1
    with pytest.raises(ValueError, match="unknown stats predicate"):
        prune_manifest_files(d, {"v": "weird"})


def test_legacy_list_stats_still_prune_ranges_not_nulls(tmp_path):
    """Back-compat: pre-r14 manifests carry [min, max] list stats — the
    range tier still works, the null tier never prunes them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "t")
    os.makedirs(d)
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64())}), os.path.join(d, "f1.parquet")
    )
    man = {
        "files": ["f1.parquet"],
        "n_rows": 1,
        "fields": ["id"],
        "schema_json": SCHEMA.json(),
        "format": "parquet",
        "mode": "append",
        "file_stats": {"f1.parquet": {"id": [1, 1]}},
    }
    with open(os.path.join(d, "_MANIFEST.v00000001"), "w") as f:
        json.dump(man, f)
    kept, total = prune_manifest_files(d, {"id": (5, None)})
    assert kept == []  # range proof works on the legacy form
    kept, total = prune_manifest_files(d, {"id": "is_null"})
    assert len(kept) == 1  # no null counts recorded -> must keep


def test_parquet_checkpoint_equals_json_checkpoint(tmp_path):
    """r14: checkpoints are parquet by default (column-pruned loads at
    depth); the two on-disk formats must be logically identical — same
    resolution, same stats — and a pre-r14 bare-JSON checkpoint stays
    readable alongside."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkWriter,
        _StagedFile,
        _load_checkpoint,
        resolve_manifest_files,
    )

    d = str(tmp_path / "log")
    os.makedirs(d)
    schema = StructType([StructField("id", LongType())])
    for i in range(1, 20):  # past the interval-16 checkpoint
        name = f"part-00000-v{i}.parquet"
        pq.write_table(
            pa.table({"id": pa.array([i], pa.int64())}), os.path.join(d, name)
        )
        msg = _StagedFile(
            name, 1, stats={"id": {"min": i, "max": i, "nulls": 0, "rows": 1}}
        )
        ManifestSinkWriter({"path": d}, schema, overwrite=False).commit([msg])
    pname = "_CHECKPOINT.v00000016.parquet"
    assert os.path.exists(os.path.join(d, pname))
    full = _load_checkpoint(d, pname)
    # write the SAME logical content as a bare JSON checkpoint and compare
    jname = "_CHECKPOINT.v00000015"  # a fake earlier JSON rollup
    with open(os.path.join(d, jname), "w") as f:
        json.dump(full, f)
    assert _load_checkpoint(d, jname)["files"] == full["files"]
    assert _load_checkpoint(d, jname)["file_stats"] == full["file_stats"]
    # stats-less load skips the stats column but sees the same files
    lite = _load_checkpoint(d, pname, with_stats=False)
    assert lite["files"] == full["files"] and lite["file_stats"] == {}
    os.remove(os.path.join(d, jname))
    # resolution through the parquet checkpoint == the full name scan
    # (parked OUTSIDE the log dir — stray names inside it are refused)
    hint = os.path.join(d, "_LAST_CHECKPOINT")
    park = str(tmp_path / "parked_ckpt")
    fast = resolve_manifest_files(d)
    os.rename(hint, hint + ".bak")
    os.rename(os.path.join(d, pname), park)
    try:
        slow = resolve_manifest_files(d)
    finally:
        os.rename(park, os.path.join(d, pname))
        os.rename(hint + ".bak", hint)
    assert fast == slow and len(fast) == 19


# ----------------------------------------------------------------- arrow


def test_manifestlog_arrow_read_bit_equal_to_batch_read(spark, tmp_path):
    """The manifestlog stream ships each staged file as Arrow batches:
    the streamed rows equal the batch read of the same snapshot and the
    rows written."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 1000, format="parquet")
    _write(spark, d, 1000, 2000, format="parquet")
    from tests.test_manifest_log_v2 import _tail_once

    out, ck = str(tmp_path / "o"), str(tmp_path / "c")
    _tail_once(spark, d, out, ck)
    a = sorted(r.id for r in spark.read.parquet(out).collect())
    assert a == _ids(read_manifest_sink(spark, d)) == list(range(2000))


def test_manifestlog_starting_timestamp(spark, tmp_path):
    """startingTimestamp mirrors startingVersion with Delta's semantics:
    consume commits whose effective time is at or after the timestamp;
    a timestamp past the head consumes only future commits."""
    import time as _time

    from tests.test_manifest_log_v2 import _tail_once

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 3)
    _time.sleep(0.05)
    mid = _time.time()
    _time.sleep(0.05)
    _write(spark, d, 10, 13)
    out, ck = str(tmp_path / "o1"), str(tmp_path / "c1")
    _tail_once(spark, d, out, ck, startingTimestamp=str(mid))
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [10, 11, 12]
    # before the first commit: everything
    out2, ck2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    _tail_once(spark, d, out2, ck2, startingTimestamp="1.0")
    assert sorted(r.id for r in spark.read.parquet(out2).collect()) == [
        0, 1, 2, 10, 11, 12,
    ]
    with pytest.raises(Exception, match="not both"):
        _tail_once(
            spark, d, str(tmp_path / "o3"), str(tmp_path / "c3"),
            startingTimestamp=str(mid), startingVersion="1",
        )


# ------------------------------------------- merge DELETE / keyed CDF


def test_merge_when_matched_delete(spark, tmp_path):
    """Delta's WHEN MATCHED ... THEN DELETE: source rows whose
    delete_condition is TRUE remove their matched table row instead of
    replacing it; FALSE/NULL rows upsert; a delete-intent row whose key
    does not exist inserts nothing (WHEN NOT MATCHED has no DELETE)."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id long, v long"
    )
    base.repartition(1).write.format("manifestsink").option("path", d).option(
        "statsColumns", "id"
    ).mode("append").save()
    updates = spark.createDataFrame(
        # id=1: update to 11; id=2: delete; id=9: delete-intent on a
        # missing key (no-op); id=4: plain insert
        [(1, 11, False), (2, None, True), (9, None, True), (4, 40, None)],
        "id long, v long, _del boolean",
    )
    merge_into_manifest_sink(
        spark, d, updates.select("id", "v", "_del"), ["id"],
        delete_condition="_del",
    )
    got = sorted(
        (r.id, r.v) for r in read_manifest_sink(spark, d).select("id", "v").collect()
    )
    assert got == [(1, 11), (3, 30), (4, 40)]
    # the _del helper column must not leak into the table
    assert "_del" not in read_manifest_sink(spark, d).columns


def test_merge_delete_condition_column_projection(spark, tmp_path):
    """The condition column is part of the UPDATE frame only — the
    rewrite projects back to the table schema, so a condition over a
    non-table column works and the table schema is unchanged."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    updates = spark.createDataFrame(
        [(2, True), (3, False)], "id long, _rm boolean"
    )
    merge_into_manifest_sink(
        spark, d, updates, ["id"], delete_condition="_rm"
    )
    out = read_manifest_sink(spark, d)
    assert out.columns == ["id"]
    assert _ids(out) == [0, 1, 3, 4]


def test_manifest_changes_keyed_update_classification(spark, tmp_path):
    """With keys, CDF classifies file-diff rows like Delta's row-level
    feed: carried rows (identical on both sides) cancel, a changed key
    present on both sides becomes update_preimage/update_postimage, and
    unpaired rows stay delete/insert."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import manifest_changes

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id long, v long"
    )
    base.repartition(1).write.format("manifestsink").option("path", d).option(
        "statsColumns", "id"
    ).mode("append").save()  # v1: one file holding ids 1..3
    updates = spark.createDataFrame(
        [(2, 21, False), (3, None, True), (7, 70, False)],
        "id long, v long, _del boolean",
    )
    merge_into_manifest_sink(
        spark, d, updates, ["id"], delete_condition="_del"
    )  # v2: update 2, delete 3, insert 7; row 1 carried in the rewrite
    ch = manifest_changes(spark, d, 1, 2, keys=["id"])
    rows = sorted((r.id, r.v, r._change_type) for r in ch.collect())
    assert rows == [
        (2, 20, "update_preimage"),
        (2, 21, "update_postimage"),
        (3, 30, "delete"),
        (7, 70, "insert"),
    ]
    # raw file-diff view (no keys) still shows the carried row both ways
    raw = manifest_changes(spark, d, 1, 2)
    raw_rows = sorted((r.id, r._change_type) for r in raw.collect())
    assert (1, "delete") in raw_rows and (1, "insert") in raw_rows


def test_manifest_changes_keyed_bad_key_refused(spark, tmp_path):
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import manifest_changes

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 3)
    delete_from_manifest_sink(spark, d, "id = 1")
    with pytest.raises(ValueError, match="not in both snapshots"):
        manifest_changes(spark, d, 1, 2, keys=["nope"]).collect()


def test_vacuum_dry_run_previews_without_deleting(spark, tmp_path):
    """VACUUM DRY RUN: same candidate list, zero deletions; a real
    vacuum afterwards removes exactly the previewed files."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)
    _write(spark, d, 5, 10)
    delete_from_manifest_sink(spark, d, "id < 2")  # v3 orphans v1's file
    optimize_manifest_sink(spark, d, target_files=1)  # base for expiry
    expire_manifest_versions(d, pysink._resolve_state(d)["version"])
    preview = vacuum_manifest_sink(d, grace_seconds=0, dry_run=True)
    assert preview  # the replaced file is now unreferenced
    for name in preview:
        assert os.path.exists(os.path.join(d, name))  # nothing deleted
    swept = vacuum_manifest_sink(d, grace_seconds=0)
    assert swept == preview
    for name in swept:
        assert not os.path.exists(os.path.join(d, name))
    assert _ids(read_manifest_sink(spark, d)) == list(range(2, 10))


# --------------------------------------------------- streaming CDF


def test_manifestlog_stream_change_feed(spark, tmp_path):
    """readChangeFeed=true: appends flow as insert rows with their
    commit version/timestamp; a REPLACE commit no longer raises — its
    removed files' rows flow as delete, its staged files' rows as
    insert (file-diff semantics, matching batch manifest_changes)."""
    from tests.test_manifest_log_v2 import _tail_once

    d, out, ckpt = (str(tmp_path / x) for x in ("t", "out", "ckpt"))
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 3)   # v1
    _write(spark, d, 10, 13)  # v2
    _tail_once(spark, d, out, ckpt, readChangeFeed="true")
    got = spark.read.parquet(out)
    assert set(got.columns) == {
        "id", "_change_type", "_commit_version", "_commit_timestamp"
    }
    rows = sorted((r.id, r._change_type, r._commit_version) for r in got.collect())
    assert rows == [
        (0, "insert", 1), (1, "insert", 1), (2, "insert", 1),
        (10, "insert", 2), (11, "insert", 2), (12, "insert", 2),
    ]
    assert all(r._commit_timestamp is not None for r in got.collect())
    # a replace (merge: update 1 -> carried 0,2; insert 99) mid-stream
    merge_into_manifest_sink(
        spark, d, spark.createDataFrame([(1,), (99,)], "id long"), ["id"]
    )  # v3 rewrites v1's file
    _tail_once(spark, d, out, ckpt, readChangeFeed="true")
    delta = spark.read.parquet(out).filter("_commit_version = 3")
    rows = sorted((r.id, r._change_type) for r in delta.collect())
    assert rows == [
        (0, "delete"), (0, "insert"),
        (1, "delete"), (1, "insert"),
        (2, "delete"), (2, "insert"),
        (99, "insert"),
    ]


def test_manifestlog_change_feed_rows_of_a_replace(spark, tmp_path):
    """The CDF columns ride the Arrow batches as per-file constants: a
    DELETE's replace flows as its removed file's rows (delete) and its
    rewrite's rows (insert), each stamped with the commit's version and
    recorded time."""
    from tests.test_manifest_log_v2 import _tail_once

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 4, statsColumns="id", format="parquet")
    delete_from_manifest_sink(spark, d, "id = 2")  # v2: replace
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _tail_once(spark, d, out, ckpt, readChangeFeed="true")
    got = sorted(
        (r.id, r._change_type, r._commit_version, r._commit_timestamp)
        for r in spark.read.parquet(out).collect()
    )
    ts = {v: json.load(open(os.path.join(d, f"_MANIFEST.v{v:08d}")))["ts"]
          for v in (1, 2)}
    assert got == sorted(
        [(i, "insert", 1, ts[1]) for i in range(4)]
        + [(i, "delete", 2, ts[2]) for i in range(4)]
        + [(i, "insert", 2, ts[2]) for i in (0, 1, 3)]
    )


def test_manifestlog_change_feed_still_raises_on_overwrite(spark, tmp_path):
    from tests.test_manifest_log_v2 import _tail_once

    d, out, ckpt = (str(tmp_path / x) for x in ("t", "out", "ckpt"))
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 3)
    _tail_once(spark, d, out, ckpt, readChangeFeed="true")
    _write(spark, d, 5, 8, mode="overwrite")
    with pytest.raises(Exception, match="OVERWRITE inside"):
        _tail_once(spark, d, out, ckpt, readChangeFeed="true")


def test_manifestlog_change_feed_explicit_schema_needs_cdf_cols(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 3)
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import ManifestLogDataSource

    spark.dataSource.register(ManifestLogDataSource)
    with pytest.raises(Exception, match="CDF columns"):
        (
            spark.readStream.format("manifestlog")
            .schema("id long")
            .option("path", d)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


# ----------------------------------------------------------------- clone


def test_shallow_clone_zero_copy_then_diverges(spark, tmp_path):
    """Shallow CLONE references the source files absolutely (zero data
    copied), then evolves independently: appends/merges in the clone
    never touch the source, and source appends never reach the clone."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import clone_manifest_sink

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, src, 0, 5, statsColumns="id", format="parquet")
    _write(spark, src, 100, 105, statsColumns="id", format="parquet")
    res = clone_manifest_sink(src, dst)
    assert res == {"version": 1, "source_version": 2, "files": 2, "deep": False}
    # zero data files in the clone dir
    assert not [
        n for n in os.listdir(dst) if not n.startswith(("_", "."))
    ]
    assert _ids(read_manifest_sink(spark, dst)) == list(range(0, 5)) + list(
        range(100, 105)
    )
    # divergence: source append invisible to clone, clone merge
    # invisible to source — and the merge's stats pruning still works
    # against the re-keyed cloned references
    _write(spark, src, 200, 205, format="parquet")
    mres = merge_into_manifest_sink(
        spark, dst, spark.createDataFrame([(2,), (999,)], "id long"), ["id"]
    )
    assert mres["candidate_files"] < mres["total_files"]  # pruned
    assert len(mres["rewritten_files"]) == 1
    assert _ids(read_manifest_sink(spark, dst)) == list(range(0, 5)) + list(
        range(100, 105)
    ) + [999]
    assert _ids(read_manifest_sink(spark, src)) == list(range(0, 5)) + list(
        range(100, 105)
    ) + list(range(200, 205))
    # the untouched source file is still referenced absolutely; the
    # rewritten one was replaced by a dst-local staged file
    files = pysink.resolve_manifest_files(dst)
    assert any(f.startswith(str(tmp_path / "src")) for f in files)


def test_clone_at_version_and_deep_survives_source_vacuum(spark, tmp_path):
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import clone_manifest_sink

    src, dst = str(tmp_path / "src"), str(tmp_path / "deep")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, src, 0, 3)
    _write(spark, src, 10, 13)
    res = clone_manifest_sink(src, dst, version=1, deep=True)
    assert res["deep"] and res["source_version"] == 1
    assert _ids(read_manifest_sink(spark, dst)) == [0, 1, 2]
    # deep clone owns its bytes: nuke the source entirely
    import shutil

    shutil.rmtree(src)
    assert _ids(read_manifest_sink(spark, dst)) == [0, 1, 2]


def test_clone_refuses_existing_log_and_streams_from_base(spark, tmp_path):
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import clone_manifest_sink
    from tests.test_manifest_log_v2 import _tail_once

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, src, 0, 4)
    clone_manifest_sink(src, dst)
    with pytest.raises(ValueError, match="already holds a manifest log"):
        clone_manifest_sink(src, dst)
    # a fresh reader may stream a log whose v1 is a base (clone/create-
    # with-overwrite): nothing before it could have been consumed
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _tail_once(spark, dst, out, ckpt)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [0, 1, 2, 3]


# ----------------------------------------------------------------- bloom


def test_bloom_prunes_point_lookups_minmax_cannot(spark, tmp_path):
    """Two files with OVERLAPPING id ranges but disjoint actual values:
    min/max keeps both for a point lookup, the bloom proves which file
    never stored the key. Range predicates ignore blooms."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import prune_manifest_files

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    # evens 0..198 and odds 1..199: both ranges span ~[0, 199]
    for parity in (0, 1):
        df = spark.range(0, 100).selectExpr(f"id * 2 + {parity} AS id")
        df.repartition(1).write.format("manifestsink").option("path", d).option(
            "statsColumns", "id"
        ).option("bloomFilterColumns", "id").mode("append").save()
    # point lookup for an even key: min/max keeps both, bloom drops odds
    kept, total = prune_manifest_files(d, {"id": [(42, 42)]})
    assert total == 2 and len(kept) == 1
    # a key NO file holds: bloom prunes everything
    kept, _ = prune_manifest_files(d, {"id": [(43, 44)]})
    assert len(kept) == 2  # non-point range: blooms ignored, min/max keeps
    kept, _ = prune_manifest_files(d, {"id": [(500, 500)]})
    assert kept == []  # min/max already proves this one
    # multi-point disjunction: kept iff ANY point maybe-present
    kept, _ = prune_manifest_files(d, {"id": [(41, 41), (43, 43)]})
    assert len(kept) == 1
    # the real read agrees (superset contract end-to-end)
    assert _ids(read_manifest_sink(spark, d)) == list(range(0, 200))


def test_bloom_column_without_stats_column(spark, tmp_path):
    """bloomFilterColumns works on its own: no [min, max] recorded, the
    entry carries only the bloom, and point pruning still fires."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import prune_manifest_files

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "id long, name string"
    )
    df.repartition(1).write.format("manifestsink").option("path", d).option(
        "bloomFilterColumns", "name"
    ).mode("append").save()
    kept, total = prune_manifest_files(d, {"name": [("beta", "beta")]})
    assert total == 1 and len(kept) == 1
    kept, _ = prune_manifest_files(d, {"name": [("delta", "delta")]})
    assert kept == []
    # unsupported bloom type refused up front
    with pytest.raises(Exception, match="bloom skipping supports"):
        spark.createDataFrame([(1.5,)], "x double").write.format(
            "manifestsink"
        ).option("path", str(tmp_path / "t2")).option(
            "bloomFilterColumns", "x"
        ).mode("append").save()


def test_bloom_accelerates_merge_touched_set(spark, tmp_path):
    """A merge keyed on a NON-clustered column: range stats alone keep
    every file (interleaved values), blooms scope the candidate set to
    the files that really hold the keys."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    for parity in (0, 1):
        spark.range(0, 50).selectExpr(f"id * 2 + {parity} AS id").repartition(
            1
        ).write.format("manifestsink").option("path", d).option(
            "statsColumns", "id"
        ).option("bloomFilterColumns", "id").mode("append").save()
    res = merge_into_manifest_sink(
        spark, d, spark.createDataFrame([(10,), (20,)], "id long"), ["id"]
    )
    # both keys are even: the odd file is bloom-pruned from candidates
    assert res["total_files"] == 2
    assert res["candidate_files"] == 1
    assert len(res["rewritten_files"]) == 1
    assert _ids(read_manifest_sink(spark, d)) == list(range(0, 100))


@pytest.mark.slow
def test_keyed_cdc_matches_dict_replay_across_merge_chain(spark, tmp_path):
    """Independent-replay audit: drive a chain of seeded random merges
    (update / delete / insert arms) and, for EVERY generation, check the
    keyed change feed against a plain-dict replay of the same ops —
    update_preimage/postimage exactly the keys whose value changed,
    delete exactly the removed keys, insert exactly the new keys, and
    carried rows NEVER appear. This is the merge-loop stress's audit
    idea applied to the CDC classification itself."""
    import random

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import manifest_changes

    rng = random.Random(14)
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    table = {i: i * 10 for i in range(40)}
    spark.createDataFrame(
        sorted(table.items()), "id long, v long"
    ).repartition(2).write.format("manifestsink").option("path", d).option(
        "statsColumns", "id"
    ).mode("append").save()
    version = pysink._resolve_state(d)["version"]
    next_id = 40
    for _gen in range(6):
        live = sorted(table)
        upd = rng.sample(live, k=min(4, len(live)))
        dels = [k for k in rng.sample(live, k=min(3, len(live))) if k not in upd]
        ins = [next_id, next_id + 1]
        next_id += 2
        rows = (
            [(k, table[k] + 1000, False) for k in upd]
            + [(k, None, True) for k in dels]
            + [(k, k * 10, False) for k in ins]
        )
        merge_into_manifest_sink(
            spark,
            d,
            spark.createDataFrame(rows, "id long, v long, _del boolean"),
            ["id"],
            delete_condition="_del",
        )
        # dict replay = the spec
        expected = []
        for k in upd:
            expected += [
                (k, table[k], "update_preimage"),
                (k, table[k] + 1000, "update_postimage"),
            ]
            table[k] += 1000
        for k in dels:
            expected.append((k, table.pop(k), "delete"))
        for k in ins:
            table[k] = k * 10
            expected.append((k, k * 10, "insert"))
        ch = manifest_changes(spark, d, version, version + 1, keys=["id"])
        got = sorted((r.id, r.v, r._change_type) for r in ch.collect())
        assert got == sorted(expected), f"generation {_gen}"
        version += 1
    # the final snapshot equals the dict
    got_state = sorted(
        (r.id, r.v) for r in read_manifest_sink(spark, d).collect()
    )
    assert got_state == sorted(table.items())


def test_manifest_history_operation_labels(spark, tmp_path):
    """The operation column names WHAT published each commit, from the
    commit's own recorded facts: WRITE, REPLACE (merge/delete), RESTORE,
    OVERWRITE, and CLONE on the cloned log's base."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        clone_manifest_sink,
        restore_manifest_sink,
    )

    d, c = str(tmp_path / "t"), str(tmp_path / "c")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5)                                   # v1 WRITE
    delete_from_manifest_sink(spark, d, "id = 1")            # v2 REPLACE
    restore_manifest_sink(d, 1)                              # v3 RESTORE
    _write(spark, d, 10, 12, mode="overwrite")               # v4 OVERWRITE
    ops = {
        r.version: r.operation
        for r in manifest_history(spark, d).collect()
    }
    assert ops == {1: "WRITE", 2: "REPLACE", 3: "RESTORE", 4: "OVERWRITE"}
    clone_manifest_sink(d, c)
    ops_c = {
        r.version: r.operation
        for r in manifest_history(spark, c).collect()
    }
    assert ops_c == {1: "CLONE"}


# ------------------------------------------------------ retention delete


def test_range_delete_drops_covered_files_metadata_only(spark, tmp_path):
    """The retention-delete proof ladder: a file fully inside the range
    with zero nulls drops WITHOUT being opened, a straddling file is
    rewritten to its survivors, a disjoint file is untouched BY NAME,
    and time travel to the pre-delete snapshot stays legal."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        delete_range_from_manifest_sink,
    )

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 10, statsColumns="id")     # fully covered by <= 14
    _write(spark, d, 10, 20, statsColumns="id")    # straddles 14
    _write(spark, d, 20, 30, statsColumns="id")    # disjoint
    before = _snapshot_files(d)
    res = delete_range_from_manifest_sink(spark, d, "id", hi=14)
    assert len(res["dropped_files"]) == 1      # 0..9: metadata-only
    assert len(res["rewritten_files"]) == 1    # 10..19: rewritten
    assert res["scanned_files"] == 1           # ONLY the straddler was read
    assert _ids(read_manifest_sink(spark, d)) == list(range(15, 30))
    after = _snapshot_files(d)
    untouched = set(before) - set(res["dropped_files"]) - set(
        res["rewritten_files"]
    )
    assert untouched <= set(after)
    # pre-delete snapshot intact
    assert _ids(
        read_manifest_sink(spark, d, version=res["base_version"])
    ) == list(range(0, 30))


def test_range_delete_null_and_statless_files(spark, tmp_path):
    """NULLs never match a range (the zero-null proof obligation): a
    file inside the range but holding NULL ids must be REWRITTEN (its
    null rows survive), never metadata-dropped; a stats-less file is
    scanned exactly."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        delete_range_from_manifest_sink,
    )

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    spark.createDataFrame(
        [(1,), (2,), (None,)], "id long"
    ).repartition(1).write.format("manifestsink").option("path", d).option(
        "statsColumns", "id"
    ).mode("append").save()
    _write(spark, d, 5, 8)  # NO statsColumns: must be scanned
    res = delete_range_from_manifest_sink(spark, d, "id", lo=0, hi=6)
    assert res["dropped_files"] == []  # null row forbids the full drop
    assert len(res["rewritten_files"]) == 2
    assert res["scanned_files"] == 2
    got = sorted(
        (r.id if r.id is not None else -1)
        for r in read_manifest_sink(spark, d).collect()
    )
    assert got == [-1, 7]  # NULL survives; 1,2,5,6 deleted; 7 kept


def test_range_delete_nothing_matches_and_validation(spark, tmp_path):
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        delete_range_from_manifest_sink,
    )

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    v = pysink._resolve_state(d)["version"]
    res = delete_range_from_manifest_sink(spark, d, "id", lo=100, hi=200)
    assert res["version"] == v and not res["dropped_files"]
    assert res["scanned_files"] == 0  # disjoint proof: nothing read
    with pytest.raises(ValueError, match="truncate"):
        delete_range_from_manifest_sink(spark, d, "id")
    with pytest.raises(ValueError, match="not in table columns"):
        delete_range_from_manifest_sink(spark, d, "nope", hi=1)


def test_range_delete_whole_table_leaves_readable_empty(spark, tmp_path):
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        delete_range_from_manifest_sink,
    )

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    res = delete_range_from_manifest_sink(spark, d, "id", lo=0)
    assert len(res["dropped_files"]) == 1 and res["scanned_files"] == 0
    out = read_manifest_sink(spark, d)
    assert out.count() == 0 and out.columns == ["id"]


# ---------------------------------------------------------------- r15 ADVICE
def test_bloom_bool_int_coercion_no_false_negative(spark, tmp_path):
    """ADVICE r14: Spark SQL equality coerces bool and int (``col = 1``
    matches TRUE), so ``_bloom_key`` canonicalizes bool into the int
    encoding — a point probe of the 'wrong' Python type must KEEP a
    file that truly holds matching rows, never silently prune it."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import prune_manifest_files

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    spark.createDataFrame([(0,), (1,)], "flag long").repartition(1).write.format(
        "manifestsink"
    ).option("path", d).option("bloomFilterColumns", "flag").mode("append").save()
    # bool probe against an int column: True == 1 under SQL — keep
    kept, total = prune_manifest_files(d, {"flag": [(True, True)]})
    assert total == 1 and len(kept) == 1
    # bool column probed with the int forms
    d2 = str(tmp_path / "t2")
    spark.createDataFrame([(True,), (True,)], "flag boolean").repartition(
        1
    ).write.format("manifestsink").option("path", d2).option(
        "bloomFilterColumns", "flag"
    ).mode("append").save()
    kept, _ = prune_manifest_files(d2, {"flag": [(1, 1)]})
    assert len(kept) == 1
    # only True stored: a 0-probe (== False) may prune — and does
    kept, _ = prune_manifest_files(d2, {"flag": [(0, 0)]})
    assert kept == []


def test_manifestlog_cdf_two_replaces_one_batch_parquet(spark, tmp_path):
    """ADVICE r14 (medium): two REPLACE commits consumed by ONE
    availableNow batch on a parquet-format log — the second replace
    removes a file staged BY the first, which the old build-once fmt
    map never covered (it froze at the first replace), sending parquet
    bytes through the jsonl reader. Every staged file is parquet now, so
    a removed file needs no format lookup at all."""
    from tests.test_manifest_log_v2 import _tail_once

    d, out, ckpt = (str(tmp_path / x) for x in ("t", "out", "ckpt"))
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 4, format="parquet", statsColumns="id")  # v1
    # v2: replace removing v1's file (delete id=0) — stages parquet
    delete_from_manifest_sink(spark, d, "id = 0")
    # v3: replace removing v2's STAGED file (delete id=1)
    delete_from_manifest_sink(spark, d, "id = 1")
    _tail_once(spark, d, out, ckpt, readChangeFeed="true")
    got = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in spark.read.parquet(out).collect()
    )
    # v1 inserts 0..3; v2 deletes {0,1,2,3} re-inserts {1,2,3};
    # v3 deletes {1,2,3} re-inserts {2,3}
    assert got == sorted(
        [(i, "insert", 1) for i in range(4)]
        + [(i, "delete", 2) for i in range(4)]
        + [(i, "insert", 2) for i in (1, 2, 3)]
        + [(i, "delete", 3) for i in (1, 2, 3)]
        + [(i, "insert", 3) for i in (2, 3)]
    )
    # replaying the feed (group per id: inserts - deletes) = final table
    import collections

    live = collections.Counter()
    for i, c, _v in got:
        live[i] += 1 if c == "insert" else -1
    assert sorted(i for i, n in live.items() if n > 0) == [2, 3]
    assert _ids(read_manifest_sink(spark, d)) == [2, 3]


def test_manifestlog_starting_timestamp_past_head_raises(spark, tmp_path):
    """ADVICE r14 (low): a startingTimestamp past the newest commit's
    effective time raises (Delta's behavior) instead of silently
    tailing an empty forever-waiting stream."""
    from tests.test_manifest_log_v2 import _tail_once

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 3)
    with pytest.raises(Exception, match="after the newest commit"):
        _tail_once(
            spark, d, str(tmp_path / "o"), str(tmp_path / "c"),
            startingTimestamp=str(2e10),
        )


def test_checkpoint_by_version_reads_pre_r14_json_name(tmp_path):
    """The hint records a checkpoint VERSION, not a name: a pre-r14
    log's bare-JSON checkpoint loads by version (its parquet name is
    absent), and a version with neither name raises FileNotFoundError —
    the stale-hint signal the resolve fast path falls back on."""
    d = str(tmp_path)
    ck = {"version": 4, "files": ["part-a.parquet"], "metas": [],
          "file_stats": {"part-a.parquet": {"id": [1, 9]}}}
    pysink._publish_exclusive(d, "_CHECKPOINT.v00000004", ck)
    got = pysink._load_checkpoint_by_version(d, 4)
    assert got["files"] == ["part-a.parquet"]
    assert got["file_stats"] == ck["file_stats"]
    with pytest.raises(FileNotFoundError):
        pysink._load_checkpoint_by_version(d, 7)


# -------------------------------------------- r15: transparent RMW retry
def test_merge_transparent_retry_disjoint_keys(spark, tmp_path, monkeypatch):
    """Delta's logical conflict rule: two merges racing on DISJOINT keys
    must BOTH land with no caller-level retry — the loser re-validates
    the winner's change set (disjoint removed files, added files whose
    stats prove no merge key) and transparently re-claims head+1."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import merge_into_manifest_sink

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")      # v1, file A: 0..4
    _write(spark, d, 100, 105, statsColumns="id")  # v2, file B: 100..104
    orig_snap = pysink._snapshot_for_rmw
    state = {"raced": False}

    def racing(path):
        snap = orig_snap(path)
        if not state["raced"]:
            state["raced"] = True  # inner merge takes the plain path
            merge_into_manifest_sink(
                spark, d,
                spark.createDataFrame([(101,), (150,)], "id long"), ["id"],
            )  # wins v3: rewrites file B only, inserts 150
        return snap

    monkeypatch.setattr(pysink, "_snapshot_for_rmw", racing)
    res = merge_into_manifest_sink(
        spark, d, spark.createDataFrame([(1,), (50,)], "id long"), ["id"]
    )
    # the loser re-claimed past the winner — BOTH merges' effects live
    assert res["version"] == 4 and res["base_version"] == 2
    assert _ids(read_manifest_sink(spark, d)) == (
        [0, 1, 2, 3, 4, 50, 100, 101, 102, 103, 104, 150]
    )


def test_merge_true_conflict_same_file_still_raises(spark, tmp_path, monkeypatch):
    """Overlapping rewrites stay a TRUE conflict: the winner rewrote the
    very file this merge's rewrite was computed from."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import merge_into_manifest_sink

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    orig_snap = pysink._snapshot_for_rmw
    state = {"raced": False}

    def racing(path):
        snap = orig_snap(path)
        if not state["raced"]:
            state["raced"] = True
            merge_into_manifest_sink(
                spark, d, spark.createDataFrame([(2,)], "id long"), ["id"]
            )  # wins v2: rewrites THE same file
        return snap

    monkeypatch.setattr(pysink, "_snapshot_for_rmw", racing)
    with pytest.raises(ConcurrentManifestWriteError, match="truly conflicts"):
        merge_into_manifest_sink(
            spark, d, spark.createDataFrame([(1,)], "id long"), ["id"]
        )
    # the winner's merge survives untouched
    assert _ids(read_manifest_sink(spark, d)) == [0, 1, 2, 3, 4]


def test_merge_conflicts_with_unprovable_concurrent_append(spark, tmp_path, monkeypatch):
    """A winner APPEND whose staged stats cannot prove it misses every
    merge key is a true conflict (the merge read the whole key domain to
    decide update-vs-insert); an append with provably-disjoint stats is
    transparently survivable."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import merge_into_manifest_sink

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    orig_snap = pysink._snapshot_for_rmw
    state = {"raced": False}

    def race_overlapping(path):
        snap = orig_snap(path)
        if not state["raced"]:
            state["raced"] = True
            _write(spark, d, 1, 2, statsColumns="id")  # may hold key 1
        return snap

    monkeypatch.setattr(pysink, "_snapshot_for_rmw", race_overlapping)
    with pytest.raises(ConcurrentManifestWriteError, match="cannot prove"):
        merge_into_manifest_sink(
            spark, d, spark.createDataFrame([(1,)], "id long"), ["id"]
        )
    # disjoint-stats append: transparent re-claim
    state["raced"] = False

    def race_disjoint(path):
        snap = orig_snap(path)
        if not state["raced"]:
            state["raced"] = True
            _write(spark, d, 900, 905, statsColumns="id")
        return snap

    monkeypatch.setattr(pysink, "_snapshot_for_rmw", race_disjoint)
    res = merge_into_manifest_sink(
        spark, d, spark.createDataFrame([(1,)], "id long"), ["id"]
    )
    assert res["version"] > res["base_version"] + 1
    got = _ids(read_manifest_sink(spark, d))
    assert got == [0, 1, 2, 3, 4] + list(range(900, 905))


def test_delete_transparent_retry_over_append(spark, tmp_path, monkeypatch):
    """DELETE treats concurrent additions as reorderable
    (WriteSerializable): an append racing the delete lands on the
    'after' side and both commits survive; a winner that rewrote the
    same file still raises."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    orig_snap = pysink._snapshot_for_rmw
    state = {"raced": False}

    def racing(path):
        snap = orig_snap(path)
        if not state["raced"]:
            state["raced"] = True
            _write(spark, d, 3, 4, statsColumns="id")  # appends another id=3
        return snap

    monkeypatch.setattr(pysink, "_snapshot_for_rmw", racing)
    res = delete_from_manifest_sink(spark, d, "id = 3")
    assert res["version"] > res["base_version"] + 1
    # the delete removed the PINNED snapshot's id=3; the racer's row is
    # an insert serialized after it and survives
    assert _ids(read_manifest_sink(spark, d)) == [0, 1, 2, 3, 4]


def test_rmw_retry_livelock_guard(spark, tmp_path, monkeypatch):
    """Bounded retries: if every re-claim keeps losing to non-conflicting
    writers, the loop raises after max_retries instead of spinning."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")

    def always_lose(*a, **k):
        raise ConcurrentManifestWriteError("claimed by a concurrent writer")

    monkeypatch.setattr(pysink, "_publish_replace", always_lose)
    with pytest.raises(ConcurrentManifestWriteError, match="livelock"):
        delete_from_manifest_sink(spark, d, "id = 3")


def test_point_merge_plans_stay_native(spark, tmp_path, monkeypatch):
    """Plan pin for a point merge on a table with a ``double`` column:
    the touched-file probe pushes ``In(id, ...)`` into the parquet scan
    with no join, and the staged rewrite frame reads only the touched
    files plus a literal ``LocalRelation`` — no pickled ``LogicalRDD``
    leaf that would start a Python worker inside the write job."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    spark.range(0, 10).select(
        "id", (F.col("id") / 4).alias("price")
    ).repartition(1).write.format("manifestsink").option("path", d).option(
        "format", "parquet"
    ).option("statsColumns", "id").mode("append").save()
    probes, staged = [], []
    frame_cls = type(spark.range(1))
    orig_collect = frame_cls.collect

    def spy_collect(self):
        if self.columns == ["__src"]:
            probes.append(self)
        return orig_collect(self)

    orig_publish = pysink._publish_replace

    def spy_publish(df, *a, **k):
        staged.append(df)
        return orig_publish(df, *a, **k)

    monkeypatch.setattr(frame_cls, "collect", spy_collect)
    monkeypatch.setattr(pysink, "_publish_replace", spy_publish)
    updates = spark.createDataFrame(
        [(3, float("nan")), (50, 1.5)], "id long, price double"
    )
    res = merge_into_manifest_sink(spark, d, updates, ["id"])
    assert len(res["rewritten_files"]) == 1
    (probe,) = probes
    qe = probe._jdf.queryExecution()
    assert "Join" not in qe.optimizedPlan().toString()
    scan = qe.sparkPlan().toString()
    assert "In(id, [3,50])" in scan, scan
    (rewrite,) = staged
    tree = rewrite._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in tree, tree
    assert "LocalRelation" in tree, tree
    got = {r.id: r.price for r in read_manifest_sink(spark, d).collect()}
    assert got[50] == 1.5 and got[3] != got[3]  # NaN stays NaN, not NULL
    assert len(got) == 11


@pytest.mark.slow
def test_disjoint_merge_race_multiprocess(tmp_path):
    """TRUE multi-process leg (smaller twin of the stress tool's): two
    Spark processes merging disjoint key ranges into one table — every
    merge must land without caller-level retry; versions dense; snapshot
    is the exact union."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from stress_manifest_concurrency import run_disjoint_merge_race

    r = run_disjoint_merge_race(str(tmp_path / "t"), n_procs=2, merges_per_proc=2)
    assert r["rows"] == 2 * (50 + 2)


@pytest.mark.slow
def test_cdf_planning_flat_at_depth(tmp_path, monkeypatch):
    """r15 gate: CDF replace-batch planning opens exactly ONE manifest
    per in-range commit at any log depth (no per-file format lookup);
    the assertions live inside run_cdf_planning."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from stress_bloom_cdf import run_cdf_planning

    r = run_cdf_planning(300)
    assert r["modern_replace_opens"] == 1


# ------------------------------------------------- r15: relative CLONE
def test_relative_clone_survives_moving_the_shared_root(spark, tmp_path):
    """clone(relative=True) stores dst-relative refs ('../t/...'): moving
    the COMMON root keeps the clone readable (absolute refs would
    dangle); merges on the relative clone still copy-on-write locally."""
    import shutil as _sh

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import clone_manifest_sink

    root = tmp_path / "root"
    d = str(root / "t")
    c = str(root / "clones" / "c")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    clone_manifest_sink(d, c, relative=True)
    st = pysink._resolve_state(c)
    assert all(not os.path.isabs(f) and f.startswith("..") for f in st["files"])
    # stats re-keyed to the relative names -> pruning works on the clone
    kept, total = prune_manifest_files(c, {"id": (100, 200)})
    assert kept == [] and total == 1
    assert _ids(read_manifest_sink(spark, c)) == [0, 1, 2, 3, 4]
    # move the shared root: the clone must still read
    moved = str(tmp_path / "relocated")
    _sh.move(str(root), moved)
    c2 = os.path.join(moved, "clones", "c")
    assert _ids(read_manifest_sink(spark, c2)) == [0, 1, 2, 3, 4]
    # copy-on-write on the moved clone: merge replaces the relative ref
    # with a dst-local staged file; the source is untouched
    res = merge_into_manifest_sink(
        spark, c2, spark.createDataFrame([(2,), (9,)], "id long"), ["id"]
    )
    assert res["rewritten_files"] and res["rewritten_files"][0].startswith("..")
    assert _ids(read_manifest_sink(spark, c2)) == [0, 1, 2, 3, 4, 9]
    assert _ids(read_manifest_sink(spark, os.path.join(moved, "t"))) == [
        0, 1, 2, 3, 4,
    ]
    # the rewritten file is dst-LOCAL (a basename); untouched refs stay
    # relative — the clone heals toward locality one copy-on-write at a time
    st2 = pysink._resolve_state(c2)
    assert any(os.sep not in f for f in st2["files"])
    with pytest.raises(ValueError, match="shallow-clone option"):
        clone_manifest_sink(c2, str(tmp_path / "x"), deep=True, relative=True)


# -------------------------------------------- r15: partition-values tier
def test_partition_values_exact_pruning(spark, tmp_path):
    """partitionColumns records the ONE exact value per file: on a
    layout where every file's doc-id range overlaps (range stats keep
    all), a partition-key point predicate prunes to exactly the holder
    — from metadata alone, superset contract intact."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    for i, lang in enumerate(("aa", "bb", "cc")):
        # ids 0..9 in EVERY file: the range tier is useless by design
        spark.createDataFrame(
            [(j, lang) for j in range(10)], "id long, lang string"
        ).coalesce(1).write.format("manifestsink").option("path", d).option(
            "statsColumns", "id"
        ).option("partitionColumns", "lang").mode("append").save()
    st = pysink._resolve_state(d)
    assert all("pv" in s["lang"] for s in st["file_stats"].values())
    # id range keeps all three (overlapping ranges prove nothing)
    kept, total = prune_manifest_files(d, {"id": (3, 5)})
    assert total == 3 and len(kept) == 3
    # the partition tier prunes to the exact holder
    kept, _ = prune_manifest_files(d, {"lang": [("bb", "bb")]})
    assert len(kept) == 1
    kept, _ = prune_manifest_files(d, {"lang": [("zz", "zz")]})
    assert kept == []
    # combined: partition point + id range
    kept, _ = prune_manifest_files(d, {"lang": [("cc", "cc")], "id": (3, 5)})
    assert len(kept) == 1
    # is_null prunes every file exactly (pv implies zero nulls)
    kept, _ = prune_manifest_files(d, {"lang": "is_null"})
    assert kept == []
    # retention delete full-drops by the exact value, never opening it
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        delete_range_from_manifest_sink,
    )

    res = delete_range_from_manifest_sink(spark, d, "lang", lo="bb", hi="bb")
    assert len(res["dropped_files"]) == 1 and res["scanned_files"] == 0
    assert sorted({r.lang for r in read_manifest_sink(spark, d).collect()}) == [
        "aa", "cc",
    ]


def test_partition_values_one_value_per_file_enforced(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    with pytest.raises(Exception, match="repartition by the partition"):
        spark.createDataFrame(
            [(1, "aa"), (2, "bb")], "id long, lang string"
        ).coalesce(1).write.format("manifestsink").option("path", d).option(
            "partitionColumns", "lang"
        ).mode("append").save()
    with pytest.raises(Exception, match="mixes"):
        spark.createDataFrame(
            [(1, "aa"), (2, None)], "id long, lang string"
        ).coalesce(1).write.format("manifestsink").option(
            "path", str(tmp_path / "t2")
        ).option("partitionColumns", "lang").mode("append").save()


def test_partition_values_null_default_partition(spark, tmp_path):
    """An all-null partition column is Hive's default partition: the
    file records the all-null form and IS [NOT] NULL prunes exactly."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    spark.createDataFrame(
        [(1, "aa"), (2, "aa")], "id long, lang string"
    ).coalesce(1).write.format("manifestsink").option("path", d).option(
        "partitionColumns", "lang"
    ).mode("append").save()
    spark.createDataFrame(
        [(3, None), (4, None)], "id long, lang string"
    ).coalesce(1).write.format("manifestsink").option("path", d).option(
        "partitionColumns", "lang"
    ).mode("append").save()
    kept, total = prune_manifest_files(d, {"lang": "is_null"})
    assert total == 2 and len(kept) == 1  # only the null file survives
    kept, _ = prune_manifest_files(d, {"lang": "is_not_null"})
    assert len(kept) == 1  # only the aa file
    kept, _ = prune_manifest_files(d, {"lang": [("aa", "aa")]})
    assert len(kept) == 1


# ------------------------------------------------ r15: DESCRIBE DETAIL
def test_describe_manifest_detail(spark, tmp_path):
    """One-row table summary pinned against the resolved state: counts,
    rows from per-file stats, real byte size, tier coverage, checkpoint
    version, mapping counts."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        describe_manifest_detail,
        rename_column_manifest_sink,
    )

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id", bloomFilterColumns="id",
           checkpointInterval="2")
    _write(spark, d, 5, 9, statsColumns="id", checkpointInterval="2")
    rename_column_manifest_sink(d, "id", "doc")
    det = describe_manifest_detail(spark, d).collect()[0]
    assert det.version == 3 and det.n_files == 2 and det.n_commits == 3
    assert det.n_rows == 9
    assert det.columns_csv == "doc"
    assert det.stats_columns_csv == "doc"  # reported under the LOGICAL name
    assert det.bloom_columns_csv == "doc"
    assert det.partition_columns_csv is None
    assert det.checkpoint_version == 2
    assert det.n_renamed_columns == 1 and det.n_dropped_columns == 0
    assert det.size_bytes == sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d) if f.startswith("part-")
    ) and det.size_bytes > 0
    assert det.format == "parquet"
    # a stats-less table reports honest NULL rows, zero tier coverage
    d2 = str(tmp_path / "t2")
    _write(spark, d2, 0, 3)
    det2 = describe_manifest_detail(spark, d2).collect()[0]
    assert det2.n_rows is None and det2.stats_columns_csv is None
    assert det2.checkpoint_version is None
    with pytest.raises(ValueError, match="no manifest log"):
        describe_manifest_detail(spark, str(tmp_path / "nope"))


def test_stream_merge_foreachbatch_unit(spark, tmp_path):
    """Unit net for manifest_stream_merge_roundtrip: per-file merge
    micro-batches upsert into the table in order, and replaying the
    last batch (crash between merge and offset commit) is a content
    no-op."""
    import glob as _glob

    d = str(tmp_path / "table")
    landing = str(tmp_path / "landing")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 6, statsColumns="id")
    os.makedirs(landing)
    for k in range(2):
        staged = str(tmp_path / f"s{k}")
        spark.createDataFrame(
            [(k, ), (10 + k,)], "id long"
        ).coalesce(1).write.parquet(staged)
        (part,) = _glob.glob(os.path.join(staged, "*.parquet"))
        os.rename(part, os.path.join(landing, f"u{k}.parquet"))
    merges = []

    def sink(batch, epoch_id):
        if batch.isEmpty():
            return
        merges.append(merge_into_manifest_sink(spark, d, batch, ["id"]))

    (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert len(merges) == 2
    assert [m["version"] for m in merges] == [2, 3]
    want = [0, 1, 2, 3, 4, 5, 10, 11]
    assert _ids(read_manifest_sink(spark, d)) == want
    # crash replay of the last batch: content no-op, one more version
    merge_into_manifest_sink(
        spark, d, spark.read.parquet(os.path.join(landing, "u1.parquet")),
        ["id"],
    )
    assert _ids(read_manifest_sink(spark, d)) == want


# --------------------------------------------- r15: self-review fixes
def test_merge_after_drop_of_stats_column(spark, tmp_path):
    """A DROPPED column's physical stats keys linger in old files'
    entries; RMW rewrites must not try to re-record them (writer init
    would refuse the unknown column and every merge/delete would fail
    until OPTIMIZE)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        drop_column_manifest_sink,
    )

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "id long, n long, s string"
    ).repartition(1).write.format("manifestsink").option("path", d).option(
        "statsColumns", "id,n"
    ).mode("append").save()
    drop_column_manifest_sink(d, "n")
    res = merge_into_manifest_sink(
        spark, d,
        spark.createDataFrame([(2, "B"), (3, "c")], "id long, s string"),
        ["id"],
    )
    assert res["rewritten_files"]
    got = sorted((r.id, r.s) for r in read_manifest_sink(spark, d).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]
    delete_from_manifest_sink(spark, d, "id = 1")
    assert sorted(r.id for r in read_manifest_sink(spark, d).collect()) == [2, 3]


def test_legacy_bool_bloom_keys_still_probed(spark, tmp_path):
    """Pre-r15 blooms over boolean columns hashed b:1/b:0; the r15
    canonicalization (bool -> int encoding) must dual-probe the legacy
    tag or files written by older code get silently false-negative
    pruned."""
    import base64

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        _bloom_hashes,
        _entry_proves_miss,
    )

    m = 128
    bits = bytearray(m // 8)
    for key in (b"b:1",):  # a legacy-era bloom storing only TRUE
        for idx in _bloom_hashes(key, m):
            bits[idx >> 3] |= 1 << (idx & 7)
    entry = {"bloom": {"m": m, "k": 7,
                       "b64": base64.b64encode(bytes(bits)).decode()}}
    # True / 1 probes must HIT the legacy key (keep the file)
    assert _entry_proves_miss(entry, [(True, True)]) is False
    assert _entry_proves_miss(entry, [(1, 1)]) is False
    # False / 0 probes miss both variants: prune is legal
    assert _entry_proves_miss(entry, [(False, False)]) is True
    assert _entry_proves_miss(entry, [(0, 0)]) is True
    # new-era bloom (i: keys) keeps working for both probe spellings
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import _bloom_build

    new_entry = {"bloom": _bloom_build({True})}
    assert _entry_proves_miss(new_entry, [(1, 1)]) is False
    assert _entry_proves_miss(new_entry, [(True, True)]) is False


def test_stats_type_validation_covers_renamed_columns(spark, tmp_path):
    """Writer-init type validation must check the PHYSICAL schema: a
    renamed unsupported-type column named in statsColumns fails at
    init (before any task stages), not at commit."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        rename_column_manifest_sink,
    )

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    spark.createDataFrame(
        [(1, [1, 2])], "id long, arr array<long>"
    ).repartition(1).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()
    rename_column_manifest_sink(d, "arr", "stuff")
    with pytest.raises(Exception, match="skipping supports"):
        spark.createDataFrame(
            [(2, [3])], "id long, stuff array<long>"
        ).repartition(1).write.format("manifestsink").option("path", d).option(
            "statsColumns", "stuff"
        ).mode("append").save()


def _write_keyed(spark, d, **opts):
    """Four parquet files of even ids 0..78 plus a ``code`` string
    column: file i holds ids 20*i .. 20*i+18, so an odd id inside a
    file's [min, max] is a key only its bloom can rule out."""
    w = (
        spark.range(0, 80, 2, 4)
        .select("id", F.concat(F.lit("c"), F.col("id").cast("string")).alias("code"))
        .write.format("manifestsink")
        .option("path", d)
        .option("format", "parquet")
    )
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode("append").save()


def test_rewrites_keep_bloom_tier(spark, tmp_path):
    """A copy-on-write rewrite and an OPTIMIZE re-record the snapshot's
    bloom tier, not only its min/max tier: every rewritten file carries
    a bloom, a point prune on a key absent from a file whose [min, max]
    admits it drops the file, and a bloom-only column stays bloom-only."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_keyed(spark, d, statsColumns="id", bloomFilterColumns="id,code")

    def check_tiers():
        fstats = pysink._resolve_state(d)["file_stats"]
        assert len(fstats) == len(_snapshot_files(d))
        for st in fstats.values():
            assert {"bloom", "min", "max"} <= set(st["id"])
            assert set(st["code"]) == {"bloom"}  # bloom-only stays so
        # 7 lies inside one file's [min, max] but no file holds it
        assert prune_manifest_files(d, {"id": [(7, 7)]})[0] == []
        assert prune_manifest_files(d, {"code": [("c7", "c7")]})[0] == []

    res = merge_into_manifest_sink(
        spark, d, spark.createDataFrame([(6, "x")], "id long, code string"), ["id"]
    )
    assert len(res["rewritten_files"]) == 1
    check_tiers()
    optimize_manifest_sink(spark, d, target_files=2)
    check_tiers()
    got = {r.id: r.code for r in read_manifest_sink(spark, d).collect()}
    assert got == {i: ("x" if i == 6 else f"c{i}") for i in range(0, 80, 2)}


@pytest.mark.parametrize("renamed", [False, True])
def test_join_mode_merge_matches_model(spark, tmp_path, renamed):
    """Merge's join mode (more than 128 update keys: a checkpointed
    update set, semi/anti joins on the key frame) with updates, inserts
    and WHEN MATCHED DELETE rows, on a plain table and on one whose key
    column was renamed — compared row for row with a Python model."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        rename_column_manifest_sink,
    )

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    spark.range(0, 400, 1, 4).selectExpr("id", "id * 10 AS val").write.format(
        "manifestsink"
    ).option("path", d).option("format", "parquet").option(
        "statsColumns", "id"
    ).option("bloomFilterColumns", "id").mode("append").save()
    key = "id"
    if renamed:
        rename_column_manifest_sink(d, "id", "key")
        key = "key"
    model = {i: i * 10 for i in range(400)}
    # 250 keys: 150 updates and 50 deletes spread over the table, 50
    # inserts past its end
    rows = []
    for i in range(200):
        k = i * 2
        op = "D" if i % 4 == 0 else "U"
        rows.append((k, -k, op))
        if op == "D":
            del model[k]
        else:
            model[k] = -k
    for k in range(1000, 1050):
        rows.append((k, k, "U"))
        model[k] = k
    updates = spark.createDataFrame(rows, f"{key} long, val long, op string")
    res = merge_into_manifest_sink(
        spark, d, updates, [key], delete_condition="op = 'D'"
    )
    assert res["version"] == res["base_version"] + 1
    got = [tuple(r) for r in read_manifest_sink(spark, d).select(key, "val").collect()]
    assert sorted(got) == sorted(model.items())


def test_publish_replace_staging_failure_leaves_nothing(spark, tmp_path):
    """A staging job that fails in one task (a Python UDF raising) makes
    ``_publish_replace`` raise with no commit published and none of the
    files its successful tasks staged left in the table directory."""
    import time

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    snap = pysink._snapshot_for_rmw(d)
    before = sorted(os.listdir(d))

    @F.udf("long")
    def boom(x):
        if x == 35:
            time.sleep(1.0)  # the other tasks stage their files first
            raise ValueError("staging task fails")
        return x

    frame = spark.range(0, 40, 1, 4).select(boom("id").alias("id"))
    with pytest.raises(Exception, match="staging task fails"):
        pysink._publish_replace(frame, d, [], 2, snap[3])
    assert sorted(os.listdir(d)) == before
    assert pysink._resolve_state(d)["version"] == 1
    assert _ids(read_manifest_sink(spark, d)) == [0, 1, 2, 3, 4]


def test_merge_lost_claim_aborts_its_staged_files(spark, tmp_path, monkeypatch):
    """A merge that loses its claim to a truly conflicting winner raises
    and removes every file it staged: the directory holds exactly what
    it held once the winner published."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    orig_snap = pysink._snapshot_for_rmw
    after_winner = []

    def race_overlapping(path):
        snap = orig_snap(path)
        _write(spark, d, 1, 2, statsColumns="id")  # may hold key 1
        after_winner.append(sorted(os.listdir(d)))
        return snap

    monkeypatch.setattr(pysink, "_snapshot_for_rmw", race_overlapping)
    with pytest.raises(ConcurrentManifestWriteError, match="cannot prove"):
        merge_into_manifest_sink(
            spark, d, spark.createDataFrame([(1,)], "id long"), ["id"]
        )
    assert sorted(os.listdir(d)) == after_winner[0]
    assert _ids(read_manifest_sink(spark, d)) == [0, 1, 1, 2, 3, 4]


def test_copy_on_write_commits_bypass_datasource_save(spark, tmp_path, monkeypatch):
    """Structural pin: MERGE (point and join mode), DELETE, range DELETE
    and OPTIMIZE stage and commit from the driver, never through
    ``DataFrameWriter.save`` — the route that starts Python DataSource
    planner processes for every save."""
    from pyspark.sql.readwriter import DataFrameWriter

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        delete_range_from_manifest_sink,
    )

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_keyed(spark, d, statsColumns="id", bloomFilterColumns="id")

    def no_save(self, *a, **k):
        raise AssertionError("DataFrameWriter.save called")

    monkeypatch.setattr(DataFrameWriter, "save", no_save)
    schema = "id long, code string"
    merge_into_manifest_sink(
        spark, d, spark.createDataFrame([(4, "p")], schema), ["id"]
    )
    join_rows = [(i, "j") for i in range(0, 300, 2)]
    merge_into_manifest_sink(spark, d, spark.createDataFrame(join_rows, schema), ["id"])
    delete_from_manifest_sink(spark, d, "id = 10")
    delete_range_from_manifest_sink(spark, d, "id", 200, 239)
    optimize_manifest_sink(spark, d, target_files=2)
    want = {i: "j" for i in range(0, 300, 2) if i != 10 and not 200 <= i <= 239}
    got = {r.id: r.code for r in read_manifest_sink(spark, d).collect()}
    assert got == want


def test_pruned_read_sees_one_snapshot_under_a_racing_overwrite(
    spark, tmp_path, monkeypatch
):
    """A pruned read at the latest version resolves the log ONCE: an
    overwrite landing right after that resolve, with other rows, must
    not leak into the read. A second resolve for the pruning would scan
    the overwrite's files instead of the pinned snapshot's."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write(spark, d, 0, 5, statsColumns="id")
    orig = pysink._resolve_state
    raced = []

    def racing(path, version=None, with_stats=True):
        state = orig(path, version, with_stats)
        if not raced:
            raced.append(path)
            _write(spark, d, 100, 105, mode="overwrite", statsColumns="id",
                   format="parquet")
        return state

    monkeypatch.setattr(pysink, "_resolve_state", racing)
    got = read_manifest_sink(spark, d, prune={"id": (None, 1000)})
    assert raced
    assert sorted(tuple(r) for r in got.collect()) == [(i,) for i in range(5)]
    monkeypatch.undo()
    assert _ids(read_manifest_sink(spark, d)) == list(range(100, 105))


def test_failed_publish_leaves_no_temp_file(tmp_path, monkeypatch):
    """Every publish writes a dot temp file first; a write that fails
    part-way (a full disk under the checkpoint's parquet writer, a
    manifest value JSON cannot carry) must remove it — vacuum never
    sweeps dot-files, and a failed checkpoint is swallowed by the
    committing job, so a leak would never be noticed."""
    import pyarrow.parquet as pq

    d = str(tmp_path)

    def disk_full(table, where, **kw):
        with open(where, "wb") as f:
            f.write(b"PAR1")
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(pq, "write_table", disk_full)
    ck = {"version": 4, "files": ["part-a.parquet"], "metas": [], "file_stats": {}}
    with pytest.raises(OSError, match="No space"):
        pysink._publish_checkpoint(d, 4, ck)
    unserializable = {"files": ["part-a.parquet"], "ts": object()}
    with pytest.raises(TypeError):
        pysink._publish_exclusive(d, "_MANIFEST.v00000001", unserializable)
    with pytest.raises(TypeError):
        pysink._publish_last_wins(d, "_MANIFEST-0", unserializable)
    assert os.listdir(d) == []
