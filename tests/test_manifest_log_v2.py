"""Round-13 manifest-log behaviors (sources/pysink.py): checkpoint
rollups + the _LAST_CHECKPOINT hint, cross-family commit guards,
pinned (never inferred) read schemas, parquet staging, stream-log
compaction -> retention, the vacuum grace period, and the refusal of
the retired generations (schema-less pre-v2, JSONL-staged)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
    _HINT,
    MANIFEST,
    ManifestSinkDataSource,
    ManifestSinkWriter,
    ManifestStreamSinkWriter,
    _StagedFile,
    compact_stream_manifests,
    expire_manifest_versions,
    read_manifest_sink,
    resolve_manifest_files,
    vacuum_manifest_sink,
)

SCHEMA = StructType([StructField("id", LongType())])


def _stage_rows(d: str, name: str, cols: dict) -> None:
    """Hand-stage one parquet data file (``cols``: name -> pyarrow array)."""
    pq.write_table(pa.table(cols), os.path.join(d, name))


def _stage(d: str, name: str, ids) -> _StagedFile:
    ids = list(ids)
    _stage_rows(d, name, {"id": pa.array(ids, pa.int64())})
    return _StagedFile(name, len(ids))


def _batch_commit(d: str, ids, tag: str, overwrite: bool = False) -> None:
    os.makedirs(d, exist_ok=True)
    msg = _stage(d, f"part-00000-{tag}.parquet", ids)
    ManifestSinkWriter({"path": d}, SCHEMA, overwrite=overwrite).commit([msg])


def _stream_commit(d: str, ids, tag: str, batch_id: int) -> None:
    os.makedirs(d, exist_ok=True)
    msg = _stage(d, f"part-00000-{tag}.parquet", ids)
    ManifestStreamSinkWriter({"path": d}, SCHEMA).commit([msg], batch_id)


# ---------------------------------------------------------------- guards


def test_batch_commit_into_stream_dir_refused_before_publish(tmp_path):
    """The ADVICE cross-family hole: a batch commit into a stream-written
    directory must refuse BEFORE publishing (previously it seeded its
    version from the stream batchIds and wedged the directory for every
    future reader)."""
    d = str(tmp_path / "s")
    _stream_commit(d, [1, 2], "b0", 0)
    with pytest.raises(ValueError, match="STREAM log"):
        _batch_commit(d, [3], "x")
    # nothing was published: the directory still reads fine as a stream log
    assert sorted(r.id for r in read_manifest_sink_rows(d)) == [1, 2]


def read_manifest_sink_rows(d):
    # tiny local parquet reader through the log: keeps guard tests Spark-free
    rows = []
    for f in resolve_manifest_files(d):
        rows.extend(pq.read_table(f).to_pylist())
    return [type("R", (), r)() for r in rows]


def test_stream_commit_into_batch_dir_refused_before_publish(tmp_path):
    d = str(tmp_path / "b")
    _batch_commit(d, [1, 2], "v1")
    with pytest.raises(ValueError, match="BATCH commit log"):
        _stream_commit(d, [3], "b0", 0)
    assert len(resolve_manifest_files(d)) == 1


def test_guards_hold_without_hint_file(tmp_path):
    """The hint is an accelerator, not the authority: with _LAST_CHECKPOINT
    deleted, both guards still fire from the name scan."""
    d1 = str(tmp_path / "s")
    _stream_commit(d1, [1], "b0", 0)
    os.remove(os.path.join(d1, _HINT))
    with pytest.raises(ValueError, match="STREAM log"):
        _batch_commit(d1, [2], "x")
    d2 = str(tmp_path / "b")
    _batch_commit(d2, [1], "v1")
    os.remove(os.path.join(d2, _HINT))
    with pytest.raises(ValueError, match="BATCH commit log"):
        _stream_commit(d2, [2], "b0", 0)


# ------------------------------------------------- checkpoints + hint


def test_checkpoint_fast_path_matches_name_scan_exactly(tmp_path):
    """Resolution through the _LAST_CHECKPOINT hint (checkpoint + dense
    forward probe, no directory listing) must be byte-identical to the
    full name-scan fallback at EVERY pinned version — checkpoints are
    caches, never semantics. Exercises a mid-log overwrite so the base
    reset is covered on both paths."""
    d = str(tmp_path / "log")
    for i in range(1, 40):
        if i == 20:
            _batch_commit(d, [i], f"v{i}", overwrite=True)
        else:
            _batch_commit(d, [i], f"v{i}")
    hint = os.path.join(d, _HINT)
    assert os.path.exists(hint)
    ckpts = [f for f in os.listdir(d) if f.startswith("_CHECKPOINT.v")]
    assert len(ckpts) == 2  # v16 and v32 at the default interval
    for k in [None, 1, 15, 16, 17, 19, 20, 21, 32, 33, 39]:
        fast = resolve_manifest_files(d, version=k)
        os.rename(hint, hint + ".bak")
        slow = resolve_manifest_files(d, version=k)
        os.rename(hint + ".bak", hint)
        assert fast == slow, k
    # semantics across the overwrite: pins <20 see the prefix, >=20 the base
    assert len(resolve_manifest_files(d, version=19)) == 19
    assert len(resolve_manifest_files(d, version=20)) == 1
    assert len(resolve_manifest_files(d)) == 20  # base + 19 later deltas


def test_fast_path_resolves_and_commits_without_a_listing(tmp_path, monkeypatch):
    """With the hint and a checkpoint present, resolving at the head or
    at any pin at or above the checkpoint — and claiming the next batch
    version — never lists the directory: the name scan is only the
    fallback. Each resolve equals the name-scan path's exactly."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources import pysink

    d = str(tmp_path / "log")
    for i in range(1, 21):
        _batch_commit(d, [i], f"v{i}", overwrite=(i == 18))
    pins = [None, 16, 17, 18, 20]
    hint = os.path.join(d, _HINT)
    os.rename(hint, hint + ".bak")
    scanned = {k: pysink._resolve_state(d, k) for k in pins}
    os.rename(hint + ".bak", hint)

    def no_listing(path):
        raise AssertionError(f"{path} was listed on the fast path")

    monkeypatch.setattr(pysink, "_scan_names", no_listing)
    for k in pins:
        assert pysink._resolve_state(d, k) == scanned[k], k
    _batch_commit(d, [21], "v21")
    assert json.load(open(hint))["version"] == 21
    monkeypatch.undo()
    assert len(resolve_manifest_files(d)) == 4  # base 18 + 19, 20, 21


def test_stale_hint_only_costs_probes_never_correctness(tmp_path):
    d = str(tmp_path / "log")
    for i in range(1, 20):
        _batch_commit(d, [i], f"v{i}")
    # regress the hint as a crashed writer would leave it
    with open(os.path.join(d, _HINT), "w") as f:
        json.dump({"kind": "batch", "version": 3, "checkpoint": None}, f)
    assert len(resolve_manifest_files(d)) == 19
    _batch_commit(d, [99], "v99")  # probes forward from 4 to claim 20
    assert len(resolve_manifest_files(d)) == 20
    assert json.load(open(os.path.join(d, _HINT)))["version"] == 20


def test_expire_drops_stale_checkpoints_and_repairs_hint(tmp_path):
    d = str(tmp_path / "log")
    for i in range(1, 35):
        _batch_commit(d, [i], f"v{i}", overwrite=(i == 33))
    removed = expire_manifest_versions(d, min_version=33)
    names = set(removed)
    # r14: checkpoints are parquet (pre-r14 logs may still hold JSON ones)
    assert any(n.startswith("_CHECKPOINT.v00000016") for n in names)
    assert any(n.startswith("_CHECKPOINT.v00000032") for n in names)
    assert json.load(open(os.path.join(d, _HINT)))["checkpoint"] is None
    assert len(resolve_manifest_files(d)) == 2  # base 33 + delta 34
    assert len(vacuum_manifest_sink(d, grace_seconds=0)) == 32


def test_concurrent_multiprocess_writers_lose_nothing(tmp_path):
    """TRUE concurrency (separate processes, kernel-arbitrated os.link
    claims — the real race, not an interleaved simulation): versions
    stay dense, resolution lists every writer's files exactly once,
    racing checkpoint publications are pure, and the hint never points
    past the log. Full-size leg in tools/stress_manifest_concurrency.py."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from stress_manifest_concurrency import run_concurrency

    r = run_concurrency(str(tmp_path), n_procs=4, commits_per_proc=12)
    assert r["total"] == 48 and r["n_ckpts"] >= 2


# ------------------------------------- schema-less pre-v2 generation


def test_legacy_bare_manifest_refused(spark, tmp_path):
    """A directory written by the schema-less pre-v2 generation (one bare
    _MANIFEST) is not read: a read raises naming the generation, and an
    append raises on the driver before any task stages — no versioned
    commit, no staged file."""
    d = str(tmp_path / "legacy")
    os.makedirs(d)
    _stage(d, "part-00000-old.parquet", [1, 2, 3])
    with open(os.path.join(d, MANIFEST), "w") as f:
        json.dump(
            {"files": ["part-00000-old.parquet"], "n_rows": 3, "fields": ["id"]}, f
        )
    with pytest.raises(ValueError, match="pre-v2"):
        read_manifest_sink(spark, d)
    spark.dataSource.register(ManifestSinkDataSource)
    with pytest.raises(Exception, match="pre-v2"):
        spark.range(4, 6).write.format("manifestsink").option("path", d).mode(
            "append"
        ).save()
    assert sorted(os.listdir(d)) == [MANIFEST, "part-00000-old.parquet"]


def test_commit_without_recorded_schema_refused(spark, tmp_path):
    """A versioned commit that holds files but records no schema_json
    (pre-v2) is refused by the batch read, by MERGE, and by the
    manifestlog stream — with the log's schema and with an explicit
    one — instead of being read by inference."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestLogDataSource,
        merge_into_manifest_sink,
    )

    d = str(tmp_path / "noschema")
    os.makedirs(d)
    _stage(d, "part-00000-old.parquet", [1, 2, 3])
    with open(os.path.join(d, "_MANIFEST.v00000001"), "w") as f:
        json.dump(
            {"files": ["part-00000-old.parquet"], "n_rows": 3, "fields": ["id"],
             "mode": "append"},
            f,
        )
    with pytest.raises(ValueError, match="no schema_json.*pre-v2"):
        read_manifest_sink(spark, d)
    with pytest.raises(ValueError, match="no schema_json.*pre-v2"):
        merge_into_manifest_sink(spark, d, spark.range(2, 4), ["id"])
    spark.dataSource.register(ManifestLogDataSource)
    with pytest.raises(Exception, match="no schema_json.*pre-v2"):
        spark.readStream.format("manifestlog").option("path", d).load()
    q = (
        spark.readStream.format("manifestlog")
        .schema("id long")
        .option("path", d)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="no schema_json.*pre-v2"):
        q.awaitTermination()
    assert sorted(os.listdir(d)) == ["_MANIFEST.v00000001", "part-00000-old.parquet"]


# ------------------------------------------------------- schema pinning


def test_read_schema_pinned_to_recorded_schema(spark, tmp_path):
    """The reader builds its schema from what the commits RECORDED, not
    from inference: a column that would infer differently (all-null)
    keeps its written type."""
    d = str(tmp_path / "pin")
    spark.dataSource.register(ManifestSinkDataSource)
    df = spark.range(5).select(
        "id", F.lit(None).cast("double").alias("maybe"), F.lit("x").alias("s")
    )
    df.write.format("manifestsink").option("path", d).mode("append").save()
    back = read_manifest_sink(spark, d)
    assert dict(back.dtypes) == {"id": "bigint", "maybe": "double", "s": "string"}
    assert back.count() == 5


def test_additive_schema_evolution_projects_nulls(spark, tmp_path):
    """ADDITIVE evolution is the table-format contract: a later commit
    adds a column, the snapshot schema is the union, and pre-evolution
    rows project the new column as NULL. Pins BEFORE the evolution keep
    the old schema."""
    d = str(tmp_path / "evolve")
    s1 = StructType([StructField("id", LongType())])
    s2 = StructType([StructField("id", LongType()), StructField("x", StringType())])
    os.makedirs(d)
    ManifestSinkWriter({"path": d}, s1, overwrite=False).commit(
        [_stage(d, "part-00000-a.parquet", [1])]
    )
    _stage_rows(d, "part-00000-b.parquet",
                {"id": pa.array([2], pa.int64()), "x": pa.array(["hey"])})
    ManifestSinkWriter({"path": d}, s2, overwrite=False).commit(
        [_StagedFile("part-00000-b.parquet", 1)]
    )
    back = read_manifest_sink(spark, d)
    assert dict(back.dtypes) == {"id": "bigint", "x": "string"}
    rows = {r.id: r.x for r in back.collect()}
    assert rows == {1: None, 2: "hey"}
    # pinning BEFORE the evolution keeps the narrow schema
    assert dict(read_manifest_sink(spark, d, version=1).dtypes) == {"id": "bigint"}


def test_type_conflict_across_resolved_commits_raises(spark, tmp_path):
    """Evolution is additive ONLY: the same field recorded with two
    different types cannot be projected, so the read fails loudly
    instead of mis-coercing; overwriting past the drift heals the
    latest snapshot."""
    d = str(tmp_path / "drift")
    s1 = StructType([StructField("id", LongType()), StructField("x", LongType())])
    s2 = StructType([StructField("id", LongType()), StructField("x", StringType())])
    os.makedirs(d)
    _stage_rows(d, "part-00000-a.parquet",
                {"id": pa.array([1], pa.int64()), "x": pa.array([7], pa.int64())})
    ManifestSinkWriter({"path": d}, s1, overwrite=False).commit(
        [_StagedFile("part-00000-a.parquet", 1)]
    )
    _stage_rows(d, "part-00000-b.parquet",
                {"id": pa.array([2], pa.int64()), "x": pa.array(["hey"])})
    ManifestSinkWriter({"path": d}, s2, overwrite=False).commit(
        [_StagedFile("part-00000-b.parquet", 1)]
    )
    with pytest.raises(ValueError, match="schema drift.*type change is not"):
        read_manifest_sink(spark, d)
    # pinning BEFORE the drift still reads cleanly
    assert read_manifest_sink(spark, d, version=1).count() == 1
    # overwriting past the drift heals the latest snapshot
    spark.dataSource.register(ManifestSinkDataSource)
    spark.range(3).write.format("manifestsink").option("path", d).mode(
        "overwrite"
    ).save()
    assert read_manifest_sink(spark, d).count() == 3


def test_manifest_history_reports_surviving_commits(spark, tmp_path):
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import manifest_history

    d = str(tmp_path / "hist")
    for b, ids in enumerate(([1], [2, 3], [4])):
        _stream_commit(d, ids, f"b{b}", b)
    compact_stream_manifests(d, upto_batch=1)
    hist = {r.version: r for r in manifest_history(spark, d).collect()}
    assert set(hist) == {1, 2}  # batch 0 folded into the base at 1
    assert hist[1].mode == "overwrite" and hist[1].is_compaction
    assert hist[1].n_rows == 3 and hist[1].n_files == 2
    assert hist[2].mode == "append" and not hist[2].is_compaction
    assert hist[2].kind == "stream" and hist[2].fields_csv == "id"


# ------------------------------------------------------ parquet staging


def test_parquet_staging_roundtrip_through_same_log(spark, tmp_path):
    d = str(tmp_path / "pq")
    spark.dataSource.register(ManifestSinkDataSource)
    df = spark.range(200).select(
        "id", (F.col("id") % 7).alias("g"), (F.col("id") * 1.5).alias("v")
    )
    df.repartition(4).write.format("manifestsink").option("path", d).option(
        "format", "parquet"
    ).mode("append").save()
    staged = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(staged) == 4
    back = read_manifest_sink(spark, d)
    assert dict(back.dtypes) == {"id": "bigint", "g": "bigint", "v": "double"}
    assert back.count() == 200
    assert back.agg(F.sum("v")).collect()[0][0] == pytest.approx(
        sum(i * 1.5 for i in range(200))
    )
    # orphaned staging is swept
    import shutil

    shutil.copy(
        os.path.join(d, staged[0]), os.path.join(d, "part-99999-orphan.parquet")
    )
    assert vacuum_manifest_sink(d, grace_seconds=0) == ["part-99999-orphan.parquet"]
    # the default format is the same parquet staging
    spark.range(5).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()
    assert read_manifest_sink(spark, d).count() == 205
    assert all(
        f.endswith(".parquet") for f in os.listdir(d) if f.startswith("part-")
    )


def _dir_bytes(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_jsonl_generation_refused(spark, tmp_path):
    """JSONL staging is a retired generation. A hand-built JSONL table (a
    commit recording ``"format": "jsonl"`` over a ``.jsonl`` part file)
    is refused by the batch read, MERGE, DELETE, OPTIMIZE, the
    manifestlog stream (with the log's schema and with an explicit one)
    and a batch append, each naming the rewrite; the directory is left
    byte-for-byte unchanged. Asking the writer for JSONL staging raises
    before any task stages."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestLogDataSource,
        delete_from_manifest_sink,
        merge_into_manifest_sink,
        optimize_manifest_sink,
    )

    d = str(tmp_path / "jsonl")
    os.makedirs(d)
    with open(os.path.join(d, "part-00000-old.jsonl"), "w") as f:
        f.writelines(f'{{"id": {i}}}\n' for i in (1, 2, 3))
    with open(os.path.join(d, "_MANIFEST.v00000001"), "w") as f:
        json.dump(
            {"files": ["part-00000-old.jsonl"], "n_rows": 3, "fields": ["id"],
             "schema_json": SCHEMA.json(), "format": "jsonl",
             "mode": "append", "ts": 1.0},
            f,
        )
    before = _dir_bytes(d)
    refused = "format 'jsonl'.*spark.read.json"
    with pytest.raises(ValueError, match=refused):
        read_manifest_sink(spark, d)
    with pytest.raises(ValueError, match=refused):
        merge_into_manifest_sink(spark, d, spark.range(2, 4), ["id"])
    with pytest.raises(ValueError, match=refused):
        delete_from_manifest_sink(spark, d, "id = 1")
    with pytest.raises(ValueError, match=refused):
        optimize_manifest_sink(spark, d)
    spark.dataSource.register(ManifestLogDataSource)
    with pytest.raises(Exception, match=refused):
        spark.readStream.format("manifestlog").option("path", d).load()
    q = (
        spark.readStream.format("manifestlog")
        .schema("id long")
        .option("path", d)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match=refused):
        q.awaitTermination()
    spark.dataSource.register(ManifestSinkDataSource)
    with pytest.raises(Exception, match=refused):
        spark.range(4, 6).write.format("manifestsink").option("path", d).mode(
            "append"
        ).save()
    assert _dir_bytes(d) == before
    # the writer refuses JSONL staging at init, into a fresh directory too
    fresh = str(tmp_path / "fresh")
    with pytest.raises(Exception, match="parquet only"):
        spark.range(3).write.format("manifestsink").option("path", fresh).option(
            "format", "jsonl"
        ).mode("append").save()
    assert not os.path.exists(fresh)
    # the rewrite the refusal names: read the files as JSON under the
    # recorded schema, overwrite through the sink
    files = [os.path.join(d, "part-00000-old.jsonl")]
    spark.read.schema(SCHEMA).json(files).write.format("manifestsink").option(
        "path", d
    ).mode("overwrite").save()
    assert sorted(r.id for r in read_manifest_sink(spark, d).collect()) == [1, 2, 3]


def test_default_sink_round_trips_date_timestamp_decimal(spark, tmp_path):
    """Date, timestamp and decimal columns (which JSONL staging could not
    encode) round-trip through the default batch sink, the manifestlog
    source and the streaming manifest sink, each read back bit-equal."""
    import datetime
    import decimal

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestLogDataSource,
    )

    rows = [
        (1, datetime.date(2024, 2, 29), datetime.datetime(2024, 2, 29, 23, 59, 59, 999999),
         decimal.Decimal("-12345678901234.5678")),
        (2, None, None, None),
        (3, datetime.date(1970, 1, 1), datetime.datetime(1970, 1, 1), decimal.Decimal("0.0001")),
    ]
    ddl = "id long, dt date, ts timestamp, dec decimal(18,4)"
    spark.dataSource.register(ManifestSinkDataSource)
    spark.dataSource.register(ManifestLogDataSource)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.createDataFrame(rows, ddl)
    df.write.format("manifestsink").option("path", src).mode("append").save()
    (
        spark.readStream.format("manifestlog").option("path", src).load()
        .writeStream.format("manifestsink")
        .option("path", dst)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    for d in (src, dst):
        back = read_manifest_sink(spark, d)
        assert back.schema == df.schema
        assert sorted(map(tuple, back.collect())) == rows


# ------------------------------------------------- stream compaction


def test_stream_compaction_enables_retention(spark, tmp_path):
    """compact_stream_manifests rewrites batches <= k into ONE BASE
    manifest (metadata only): every surviving snapshot is unchanged,
    the newest batch is protected from compaction (restart replay
    safety), and expire + vacuum — illegal on a raw stream log — become
    legal below the compacted base."""
    d = str(tmp_path / "stream")
    for b, ids in enumerate(([1, 2], [3], [4, 5, 6], [7])):
        _stream_commit(d, ids, f"b{b}", b)
    # raw stream history is not expirable (all deltas, no base)
    with pytest.raises(ValueError, match="delta that builds on expired"):
        expire_manifest_versions(d, min_version=2)
    # newest batch is protected: Spark may replay it after a restart
    with pytest.raises(ValueError, match="strictly below the newest"):
        compact_stream_manifests(d, upto_batch=3)
    pre = {
        k: sorted(os.path.basename(p) for p in resolve_manifest_files(d, version=k))
        for k in (0, 1, 2, 3, None)
    }
    published = compact_stream_manifests(d, upto_batch=2)
    assert published == "_MANIFEST-2"
    man = json.load(open(os.path.join(d, published)))
    assert man["mode"] == "overwrite" and man["n_rows"] == 6
    # batches 0 and 1 are gone from the log; snapshots at >=2 are unchanged
    assert not os.path.exists(os.path.join(d, "_MANIFEST-0"))
    for k in (2, 3, None):
        post = sorted(os.path.basename(p) for p in resolve_manifest_files(d, version=k))
        assert post == pre[k], k
    # idempotent re-run (folds the base into an identical base)
    compact_stream_manifests(d, upto_batch=2)
    assert sorted(
        os.path.basename(p) for p in resolve_manifest_files(d)
    ) == pre[None]
    # retention is now legal: expire below the base, vacuum nothing (all
    # surviving files are still referenced by the compacted base)
    assert expire_manifest_versions(d, min_version=2) == []
    assert vacuum_manifest_sink(d, grace_seconds=0) == []
    back = read_manifest_sink(spark, d)
    assert sorted(r.id for r in back.collect()) == [1, 2, 3, 4, 5, 6, 7]


def test_stream_compaction_then_expire_reclaims_orphans(tmp_path):
    d = str(tmp_path / "stream")
    for b in range(5):
        _stream_commit(d, [b * 10, b * 10 + 1], f"b{b}", b)
    compact_stream_manifests(d, upto_batch=3)
    # a second, LATER compaction: fold the old base + batch 4's
    # predecessor... (compact again below the current newest)
    files_before = sorted(os.path.basename(p) for p in resolve_manifest_files(d))
    assert len(files_before) == 5
    # expire is a no-op at the base boundary (nothing below survives)...
    assert expire_manifest_versions(d, min_version=3) == []
    # ...and everything still reads
    assert sorted(os.path.basename(p) for p in resolve_manifest_files(d)) == files_before
    assert vacuum_manifest_sink(d, grace_seconds=0) == []


def test_stream_compaction_keeps_skipping_stats(tmp_path):
    """The compacted base carries the covered files' skipping stats:
    pruning keeps exactly the files it kept before the compaction (a
    stats-less base would keep every compacted file)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import prune_manifest_files

    d = str(tmp_path / "stream")
    os.makedirs(d)
    for b in range(4):
        name = f"part-00000-b{b}.parquet"
        _stage(d, name, [b])
        msg = _StagedFile(name, 1, stats={"id": [b, b]})
        ManifestStreamSinkWriter({"path": d}, SCHEMA).commit([msg], b)
    before = prune_manifest_files(d, {"id": (0, 0)})
    assert len(before[0]) == 1 and before[1] == 4
    compact_stream_manifests(d, 2)
    assert prune_manifest_files(d, {"id": (0, 0)}) == before


def test_manifest_stats_skipping_prunes_only_provable_files(spark, tmp_path):
    """Manifest-level min/max data skipping: statsColumns records per-file
    [min,max] during staging; pruning drops a file ONLY when its stats
    prove no row matches, keeps stats-less files (superset contract),
    survives the checkpoint fast path, and never changes query results."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import prune_manifest_files

    d = str(tmp_path / "stats")
    spark.dataSource.register(ManifestSinkDataSource)
    # 4 range-disjoint files with recorded stats
    df = spark.range(400).select("id", (F.col("id") % 7).alias("g"))
    df.repartitionByRange(4, "id").write.format("manifestsink").option(
        "path", d
    ).option("statsColumns", "id").mode("append").save()
    # one stats-less commit on top (no statsColumns): must never be pruned
    spark.range(1000, 1005).coalesce(1).write.format("manifestsink").option(
        "path", d
    ).mode("append").save()

    kept, total = prune_manifest_files(d, {"id": (0, 50)})
    assert total == 5
    assert len(kept) == 2  # one range file can match + the stats-less file
    back = read_manifest_sink(spark, d, prune={"id": (0, 50)}).filter(
        F.col("id") <= 50
    )
    full = read_manifest_sink(spark, d).filter(F.col("id") <= 50)
    assert back.agg(F.sum("id")).collect() == full.agg(F.sum("id")).collect()
    # open bounds: (lo, None) keeps everything at/above lo plus stats-less
    kept_hi, _ = prune_manifest_files(d, {"id": (350, None)})
    assert len(kept_hi) == 2
    # all provably pruned -> empty frame with the pinned schema
    empty = read_manifest_sink(spark, d, prune={"g": (100, 200)})
    # g has no recorded stats anywhere -> nothing prunable, NOT empty
    assert empty.count() == 405
    # a range with no possible id match prunes the 4 stats files only
    kept_none, _ = prune_manifest_files(d, {"id": (5000, 6000)})
    assert len(kept_none) == 1  # just the stats-less file survives


def test_manifest_stats_survive_checkpoint_fast_path(tmp_path):
    """file_stats must ride the checkpoint rollup: a resolve that starts
    from a checkpoint sees the same pruning metadata as a full scan."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import prune_manifest_files

    d = str(tmp_path / "log")
    os.makedirs(d)
    for i in range(1, 20):  # past the interval-16 checkpoint
        name = f"part-00000-v{i}.parquet"
        _stage(d, name, [i])
        msg = _StagedFile(name, 1, stats={"id": [i, i]})
        ManifestSinkWriter({"path": d}, SCHEMA, overwrite=False).commit([msg])
    hint = os.path.join(d, "_LAST_CHECKPOINT")
    kept_fast, total_fast = prune_manifest_files(d, {"id": (5, 7)})
    os.rename(hint, hint + ".bak")
    kept_slow, total_slow = prune_manifest_files(d, {"id": (5, 7)})
    os.rename(hint + ".bak", hint)
    assert kept_fast == kept_slow and total_fast == total_slow == 19
    assert [os.path.basename(p) for p in kept_fast] == [
        "part-00000-v5.parquet", "part-00000-v6.parquet", "part-00000-v7.parquet"
    ]


def test_optimize_rewrites_snapshot_preserving_history(spark, tmp_path):
    """OPTIMIZE through the log: same rows, fewer files, published as one
    overwrite commit — pre-optimize pins intact until expired, then
    vacuum reclaims exactly the superseded small files."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import optimize_manifest_sink

    d = str(tmp_path / "opt")
    spark.dataSource.register(ManifestSinkDataSource)
    for lo, hi in ((0, 40), (40, 100)):
        spark.range(lo, hi).repartition(6).write.format("manifestsink").option(
            "path", d
        ).mode("append").save()
    assert len(resolve_manifest_files(d)) == 12
    before = read_manifest_sink(spark, d).agg(F.sum("id")).collect()[0][0]
    optimize_manifest_sink(spark, d, target_files=2)
    files = resolve_manifest_files(d)
    assert len(files) == 2
    assert read_manifest_sink(spark, d).agg(F.sum("id")).collect()[0][0] == before
    # pre-optimize pins still readable; nothing reclaimable until expired
    assert len(resolve_manifest_files(d, version=2)) == 12
    assert vacuum_manifest_sink(d, grace_seconds=0) == []
    expire_manifest_versions(d, min_version=3)
    assert len(vacuum_manifest_sink(d, grace_seconds=0)) == 12
    assert read_manifest_sink(spark, d).agg(F.sum("id")).collect()[0][0] == before
    # stream directories are refused (their counterpart is manifest compaction)
    d2 = str(tmp_path / "stream")
    _stream_commit(d2, [1], "b0", 0)
    with pytest.raises(ValueError, match="compact_stream_manifests"):
        optimize_manifest_sink(spark, d2)


# ------------------------------------------------- manifestlog stream source


def _tail_once(spark, d, out, ckpt, **opts):
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import ManifestLogDataSource

    spark.dataSource.register(ManifestLogDataSource)
    reader = spark.readStream.format("manifestlog").option("path", d)
    for k, v in opts.items():
        reader = reader.option(k, v)
    (
        reader.load()
        .writeStream.foreachBatch(lambda b, _e: b.write.mode("append").parquet(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def test_manifestlog_stream_source_tails_commits_incrementally(spark, tmp_path):
    """The commit log as a streaming source: offsets are commit versions,
    so a second availableNow run on the same checkpoint consumes ONLY
    the commits that landed since — exactly-once tailing of a table that
    batch jobs keep appending to."""
    d, out, ckpt = (str(tmp_path / x) for x in ("log", "out", "ckpt"))
    spark.dataSource.register(ManifestSinkDataSource)
    spark.range(0, 30).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()
    spark.range(30, 50).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()
    _tail_once(spark, d, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 50
    spark.range(50, 60).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()
    _tail_once(spark, d, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 60  # 10 new rows, nothing re-read
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(60))
    assert dict(got.dtypes) == {"id": "bigint"}  # pinned from the log


def test_manifestlog_stream_source_parquet_staged_log(spark, tmp_path):
    d, out, ckpt = (str(tmp_path / x) for x in ("log", "out", "ckpt"))
    spark.dataSource.register(ManifestSinkDataSource)
    df = spark.range(40).select("id", (F.col("id") * 0.5).alias("v"))
    df.write.format("manifestsink").option("path", d).option(
        "format", "parquet"
    ).mode("append").save()
    _tail_once(spark, d, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 40
    assert got.agg(F.sum("v")).collect()[0][0] == sum(i * 0.5 for i in range(40))


def test_manifestlog_stream_source_refuses_bases_unless_opted_in(spark, tmp_path):
    d, out, ckpt = (str(tmp_path / x) for x in ("log", "out", "ckpt"))
    spark.dataSource.register(ManifestSinkDataSource)
    spark.range(10).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()
    _tail_once(spark, d, out, ckpt)
    spark.range(100, 105).write.format("manifestsink").option("path", d).mode(
        "overwrite"
    ).save()
    spark.range(200, 203).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()
    with pytest.raises(Exception, match="OVERWRITE inside"):
        _tail_once(spark, d, out, ckpt)
    # opting in skips the base and consumes only the append delta
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    _tail_once(spark, d, out2, ckpt2, skipBases="true")
    ids = sorted(r.id for r in spark.read.parquet(out2).collect())
    assert ids == list(range(10)) + [200, 201, 202]
    # a fresh reader can instead start ABOVE the rewrite
    out3, ckpt3 = str(tmp_path / "out3"), str(tmp_path / "ckpt3")
    _tail_once(spark, d, out3, ckpt3, startingVersion="3")
    assert sorted(r.id for r in spark.read.parquet(out3).collect()) == [200, 201, 202]


def test_manifestlog_stream_source_over_streamed_directory(spark, tmp_path):
    """Stream-kind logs (batchId versions, starting at 0) tail too: the
    initial offset sits one below batch 0 so nothing is skipped."""
    d, out, ckpt = (str(tmp_path / x) for x in ("log", "out", "ckpt"))
    for b, ids in enumerate(([1, 2], [3, 4, 5])):
        _stream_commit(d, ids, f"b{b}", b)
    _tail_once(spark, d, out, ckpt)
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 2, 3, 4, 5]


def test_stream_dedup_windowed_chain_has_batch_fallback(spark, sf_dir):
    """ADVICE r12: dedup_then_windowed_counts claimed to work on batch
    DataFrames, but dropDuplicatesWithinWatermark is streaming-only.
    The documented fallback must actually exist: on a batch input the
    helper branches to dropDuplicates and returns the same rollup."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import dedup_then_windowed_counts

    ev = load_testdata(spark, sf_dir, ["events"])["events"].select(
        "event_id", "event_type", "ts", "value"
    )
    doubled = ev.unionAll(ev)  # redelivery twin
    out = dedup_then_windowed_counts(doubled, window="1 hour")
    assert not out.isStreaming
    base = (
        ev.dropDuplicates(["event_id"])
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    key = lambda r: (r.window_start, r.event_type)  # noqa: E731
    assert sorted(out.collect(), key=key) == sorted(base.collect(), key=key)
