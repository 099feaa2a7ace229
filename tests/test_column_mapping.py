"""Column mapping (r15): RENAME/DROP COLUMN through the manifest log.

Delta's column-mapping idea re-expressed for the pysink commit log
(reference has no counterpart — extension surface): physical names are
immutable (the name a column was first staged under), a rename/drop is
ONE zero-file ``metadata`` commit, reads project physical->logical,
writes translate logical->physical, and skipping stats/blooms stay
keyed by physical name so pruning survives any number of renames.
"""

from __future__ import annotations

import os

import pytest

from fiap_machine_learning_tech_challenge_2_etl_spark.sources import pysink
from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
    ManifestSinkDataSource,
    _resolve_state,
    clone_manifest_sink,
    delete_from_manifest_sink,
    delete_range_from_manifest_sink,
    drop_column_manifest_sink,
    manifest_changes,
    manifest_history,
    merge_into_manifest_sink,
    optimize_manifest_sink,
    prune_manifest_files,
    read_manifest_sink,
    rename_column_manifest_sink,
    restore_manifest_sink,
)


def _write_df(spark, d, rows, ddl, **opts):
    w = (
        spark.createDataFrame(rows, ddl)
        .repartition(1)
        .write.format("manifestsink")
        .option("path", d)
    )
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode(opts.pop("mode", "append") if "mode" in opts else "append").save()


def _datafiles(d):
    return sorted(
        f for f in os.listdir(d)
        if not f.startswith(("_", ".")) and f.endswith(".parquet")
    )


def test_rename_is_metadata_only_and_reads_both_eras(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(spark, d, [(1, 10.0), (2, 20.0)], "id long, val double")  # v1
    before = _datafiles(d)
    v = rename_column_manifest_sink(d, "val", "amount")
    assert v == 2
    assert _datafiles(d) == before  # ZERO data files written or touched
    # append UNDER THE NEW NAME: stages under the immutable physical name
    _write_df(spark, d, [(3, 30.0)], "id long, amount double")  # v3
    got = read_manifest_sink(spark, d)
    assert got.columns == ["id", "amount"]
    assert sorted((r.id, r.amount) for r in got.collect()) == [
        (1, 10.0), (2, 20.0), (3, 30.0),
    ]
    # both eras' files carry the SAME physical name
    st = _resolve_state(d)
    assert st["mapping"] == {"cols": {"amount": "val"}, "dropped": []}
    # time travel BEFORE the rename shows the old name
    old = read_manifest_sink(spark, d, version=1)
    assert old.columns == ["id", "val"]
    assert sorted(r.val for r in old.collect()) == [10.0, 20.0]


def test_rename_validations_and_chaining(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(spark, d, [(1, "x")], "id long, a string")
    with pytest.raises(ValueError, match="not a column"):
        rename_column_manifest_sink(d, "nope", "b")
    with pytest.raises(ValueError, match="already exists"):
        rename_column_manifest_sink(d, "a", "id")
    rename_column_manifest_sink(d, "a", "b")
    # chained rename composes to the ORIGINAL physical name
    rename_column_manifest_sink(d, "b", "c")
    assert _resolve_state(d)["mapping"]["cols"] == {"c": "a"}
    # the retired physical name is never reusable
    with pytest.raises(ValueError, match="physical column name"):
        rename_column_manifest_sink(d, "c", "a")
    assert read_manifest_sink(spark, d).columns == ["id", "c"]
    # writing under a retired name is refused loudly
    with pytest.raises(Exception, match="renamed column|logical name"):
        _write_df(spark, d, [(9, "y")], "id long, a string")


def test_drop_column_metadata_only(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(spark, d, [(1, "x", 5), (2, "y", 6)], "id long, s string, n long")
    before = _datafiles(d)
    drop_column_manifest_sink(d, "s")
    assert _datafiles(d) == before
    got = read_manifest_sink(spark, d)
    assert got.columns == ["id", "n"]
    # time travel before the drop still shows it
    assert read_manifest_sink(spark, d, version=1).columns == ["id", "s", "n"]
    # the dropped physical name is retired: re-adding it is refused
    with pytest.raises(Exception, match="DROPPED|never reused"):
        _write_df(spark, d, [(3, "z", 7)], "id long, s string, n long")
    # appends without it are plain appends
    _write_df(spark, d, [(3, 7)], "id long, n long")
    assert sorted((r.id, r.n) for r in read_manifest_sink(spark, d).collect()) == [
        (1, 5), (2, 6), (3, 7),
    ]
    with pytest.raises(ValueError, match="not a column"):
        drop_column_manifest_sink(d, "s")  # already gone logically


def test_drop_only_column_refused(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(spark, d, [(1,)], "id long")
    with pytest.raises(ValueError, match="only column"):
        drop_column_manifest_sink(d, "id")


def test_stats_and_bloom_pruning_survive_rename(spark, tmp_path):
    """The verdict's explicit bar: stats/bloom stay keyed correctly
    after a rename — old-era files (physical stats) and new-era files
    (staged post-rename) both prune under the NEW logical name."""
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(
        spark, d, [(i, i * 10) for i in range(5)], "id long, val long",
        statsColumns="val", bloomFilterColumns="val",
    )  # v1: val in [0, 40]
    rename_column_manifest_sink(d, "val", "amount")
    _write_df(
        spark, d, [(i, i * 10) for i in range(100, 105)],
        "id long, amount long",
        statsColumns="amount", bloomFilterColumns="amount",
    )  # v3: amount in [1000, 1040], stats recorded under PHYSICAL 'val'
    st = _resolve_state(d)
    assert all("val" in s for s in st["file_stats"].values())
    # range pruning under the logical name spans both eras
    kept, total = prune_manifest_files(d, {"amount": (0, 50)})
    assert total == 2 and len(kept) == 1
    kept, _ = prune_manifest_files(d, {"amount": (500, 2000)})
    assert len(kept) == 1
    # bloom point tier, logical name
    kept, _ = prune_manifest_files(d, {"amount": [(30, 30)]})
    assert len(kept) == 1
    kept, _ = prune_manifest_files(d, {"amount": [(31, 31)]})
    assert kept == []
    # read-side prune= takes logical names too
    got = read_manifest_sink(spark, d, prune={"amount": (1000, 1040)})
    assert sorted(r.amount for r in got.collect()) == [
        1000, 1010, 1020, 1030, 1040,
    ]


def test_merge_and_delete_on_renamed_table(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(
        spark, d, [(i, float(i)) for i in range(5)], "id long, val double",
        statsColumns="id",
    )
    rename_column_manifest_sink(d, "val", "score")
    res = merge_into_manifest_sink(
        spark, d,
        spark.createDataFrame([(2, 99.0), (50, 50.0)], "id long, score double"),
        ["id"],
    )
    assert res["rewritten_files"]
    got = sorted((r.id, r.score) for r in read_manifest_sink(spark, d).collect())
    assert got == [(0, 0.0), (1, 1.0), (2, 99.0), (3, 3.0), (4, 4.0), (50, 50.0)]
    delete_from_manifest_sink(spark, d, "score > 40")
    got = sorted(r.id for r in read_manifest_sink(spark, d).collect())
    assert got == [0, 1, 3, 4]
    # range delete on the renamed column (stats keyed physical underneath)
    delete_range_from_manifest_sink(spark, d, "id", lo=3)
    assert sorted(r.id for r in read_manifest_sink(spark, d).collect()) == [0, 1]


def test_optimize_materializes_mapping(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(
        spark, d, [(i, i * 2) for i in range(6)], "id long, val long",
        statsColumns="val",
    )
    rename_column_manifest_sink(d, "val", "doubled")
    drop_dummy = None  # keep flake quiet
    optimize_manifest_sink(spark, d, target_files=1)
    st = _resolve_state(d)
    assert st["mapping"] is None  # the overwrite RESET the mapping
    got = read_manifest_sink(spark, d)
    assert got.columns == ["id", "doubled"]
    assert sorted(r.doubled for r in got.collect()) == [0, 2, 4, 6, 8, 10]
    # rewritten stats are keyed by the (now-physical) logical name
    assert all("doubled" in s for s in st["file_stats"].values())
    kept, total = prune_manifest_files(d, {"doubled": (100, 200)})
    assert kept == [] and total == 1
    del drop_dummy


def test_clone_and_restore_preserve_mapping(spark, tmp_path):
    d, c = str(tmp_path / "t"), str(tmp_path / "c")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(spark, d, [(1, 10.0)], "id long, val double")
    rename_column_manifest_sink(d, "val", "amount")  # v2
    _write_df(spark, d, [(2, 20.0)], "id long, amount double")  # v3
    clone_manifest_sink(d, c)
    got = read_manifest_sink(spark, c)
    assert got.columns == ["id", "amount"]
    assert sorted(r.id for r in got.collect()) == [1, 2]
    # the clone evolves independently: rename there only
    rename_column_manifest_sink(c, "amount", "money")
    assert read_manifest_sink(spark, c).columns == ["id", "money"]
    assert read_manifest_sink(spark, d).columns == ["id", "amount"]
    # RESTORE across the rename: back to v1 -> old name; the restore
    # base carries the as-of mapping (here: none)
    restore_manifest_sink(d, 1)
    assert read_manifest_sink(spark, d).columns == ["id", "val"]
    # and restoring forward again to the mapped snapshot keeps the name
    restore_manifest_sink(d, 3)
    assert read_manifest_sink(spark, d).columns == ["id", "amount"]


def test_checkpoint_carries_mapping(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(spark, d, [(1, 1.0)], "id long, val double",
              checkpointInterval="2")
    rename_column_manifest_sink(d, "val", "v2name")  # v2 (no ckpt: metadata)
    for i in range(3, 7):
        _write_df(spark, d, [(i, float(i))], "id long, v2name double",
                  checkpointInterval="2")
    # a checkpoint above the metadata commit exists; the hint fast path
    # must recover the mapping from it
    names = os.listdir(d)
    assert any(n.startswith("_CHECKPOINT.v") for n in names)
    st = _resolve_state(d)
    assert st["mapping"] == {"cols": {"v2name": "val"}, "dropped": []}
    got = read_manifest_sink(spark, d)
    assert got.columns == ["id", "v2name"]
    assert len(got.collect()) == 5


def test_streaming_mapped_table_logical_view(spark, tmp_path):
    """Streaming over a column-mapped table (r15): the log source serves
    the LOGICAL schema, pinned at stream construction — files staged
    before AND after the rename emit under the logical names (physical
    names are immutable, so a mid-stream rename cannot shift what a
    running reader's file reads return). A RESTART re-pins at the
    table's then-current logical view (the offset log stores positions,
    not schemas — Delta likewise applies column-mapping schema changes
    at restart boundaries via schemaTrackingLocation), so a post-rename
    continuation emits the new batch under the NEW logical name."""
    from tests.test_manifest_log_v2 import _tail_once

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(spark, d, [(1, 10.0)], "id long, val double")        # era 1
    rename_column_manifest_sink(d, "val", "amount")
    _write_df(spark, d, [(2, 20.0)], "id long, amount double")     # era 2
    out, ck = str(tmp_path / "o"), str(tmp_path / "c")
    _tail_once(spark, d, out, ck)
    got = spark.read.parquet(out)
    assert set(got.columns) == {"id", "amount"}
    assert sorted((r.id, r.amount) for r in got.collect()) == [
        (1, 10.0), (2, 20.0),
    ]
    # continuation across ANOTHER rename: the restarted stream re-pins
    # at the CURRENT logical view, so only the new batch's rows arrive
    # under the new name (already-emitted output is immutable)
    rename_column_manifest_sink(d, "amount", "money")
    _write_df(spark, d, [(3, 30.0)], "id long, money double")
    _tail_once(spark, d, out, ck)
    got = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(got.columns) == {"id", "amount", "money"}
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]
    assert [(r.amount, r.money) for r in got.collect() if r.id == 3] == [
        (None, 30.0)
    ]


def test_streaming_mapped_table_parquet_cdf_and_drop(spark, tmp_path):
    """Parquet staging + CDF over a mapped table with a DROPPED column:
    the dropped column is absent, and era-1 files (which physically
    still hold it) project it away."""
    from tests.test_manifest_log_v2 import _tail_once

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(spark, d, [(1, 10.0, "x")], "id long, val double, junk string",
              format="parquet")
    rename_column_manifest_sink(d, "val", "amount")
    drop_column_manifest_sink(d, "junk")
    _write_df(spark, d, [(2, 20.0)], "id long, amount double",
              format="parquet")
    out, ck = str(tmp_path / "o"), str(tmp_path / "c")
    _tail_once(spark, d, out, ck, readChangeFeed="true")
    df = spark.read.parquet(out)
    assert set(df.columns) == {
        "id", "amount", "_change_type", "_commit_version",
        "_commit_timestamp",
    }
    got = sorted(
        (r.id, r.amount, r._change_type, r._commit_version)
        for r in df.collect()
    )
    assert [(i, a, c) for i, a, c, _v in got] == [
        (1, 10.0, "insert"), (2, 20.0, "insert"),
    ]


def test_history_and_cdf_across_rename(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(spark, d, [(1, 10.0)], "id long, val double")  # v1
    rename_column_manifest_sink(d, "val", "amount")          # v2
    _write_df(spark, d, [(2, 20.0)], "id long, amount double")  # v3
    hist = {r.version: r.operation for r in manifest_history(spark, d).collect()}
    assert hist[2] == "RENAME COLUMN val TO amount"
    assert hist[1] == "WRITE" and hist[3] == "WRITE"
    # CDF across the rename reads at the END version's logical view
    ch = manifest_changes(spark, d, 1, 3)
    rows = sorted((r.id, r.amount, r._change_type) for r in ch.collect())
    assert rows == [(2, 20.0, "insert")]


def test_timestamp_time_travel_across_rename(spark, tmp_path):
    import time as _time

    d = str(tmp_path / "t")
    spark.dataSource.register(ManifestSinkDataSource)
    _write_df(spark, d, [(1, 10.0)], "id long, val double")
    _time.sleep(0.05)
    mid = _time.time()
    _time.sleep(0.05)
    rename_column_manifest_sink(d, "val", "amount")
    got = read_manifest_sink(spark, d, timestamp=mid)
    assert got.columns == ["id", "val"]
    got = read_manifest_sink(spark, d)
    assert got.columns == ["id", "amount"]
