"""Spark 4 API surfaces: Python DataSource, UDTF, VARIANT."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_synthdocs_datasource_deterministic_and_partitioned(spark):
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pydatasource import (
        SynthDocsDataSource,
    )

    spark.dataSource.register(SynthDocsDataSource)
    df = (
        spark.read.format("synthdocs")
        .option("n_partitions", 3)
        .option("rows_per_partition", 50)
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 150
    assert df.columns == ["doc_id", "text", "n_tokens", "bucket"]
    # deterministic: same options -> identical content
    again = (
        spark.read.format("synthdocs")
        .option("n_partitions", 3)
        .option("rows_per_partition", 50)
        .load()
    )
    assert sorted(df.collect()) == sorted(again.collect())
    # n_tokens is consistent with the text
    bad = df.filter(F.size(F.split("text", " ")) != F.col("n_tokens")).count()
    assert bad == 0


def test_word_ngrams_udtf_matches_native_shingles(spark):
    from fiap_machine_learning_tech_challenge_2_etl_spark.functions.udtfs import register_udtfs
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import shingles

    register_udtfs(spark)
    rows = spark.sql(
        "SELECT * FROM word_ngrams('the quick brown fox', 3)"
    ).collect()
    assert [(r["pos"], r["ngram"]) for r in rows] == [
        (0, "the quick brown"),
        (1, "quick brown fox"),
    ]
    # short input falls back to the full text (same contract as shingles)
    short = spark.sql("SELECT * FROM word_ngrams('hello', 3)").collect()
    assert [(r["pos"], r["ngram"]) for r in short] == [(0, "hello")]

    # parity with the native array-expression shingle operator
    df = spark.createDataFrame([("the quick brown fox jumps",)], "text string")
    native = sorted(
        df.select(F.explode(shingles("text", 3)).alias("s")).rdd.map(lambda r: r["s"]).collect()
    )
    via_udtf = sorted(
        r["ngram"]
        for r in spark.sql(
            "SELECT t.ngram FROM (SELECT 'the quick brown fox jumps' AS txt) s, "
            "LATERAL word_ngrams(s.txt, 3) t"
        ).collect()
    )
    assert native == via_udtf


def test_variant_parse_and_typed_get(spark):
    df = spark.createDataFrame(
        [('{"k": 5, "tags": ["a", "b"]}',), ('{"k": null}',)], "j string"
    )
    out = df.select(
        F.expr("variant_get(parse_json(j), '$.k', 'int')").alias("k"),
        F.expr("try_variant_get(parse_json(j), '$.tags[0]', 'string')").alias("t0"),
    ).collect()
    assert [(r["k"], r["t0"]) for r in out] == [(5, "a"), (None, None)]


def test_theta_sketch_exact_mode_set_algebra(spark):
    """Theta sketches below 2^lgK retained hashes are in EXACT mode:
    union/intersection/difference estimates equal the true set-algebra
    cardinalities on constructed overlapping sets (A=0..599, B=400..999:
    |A u B|=1000, |A n B|=200, |A \\ B|=400)."""
    a = spark.range(0, 600).select(F.lit("a").alias("g"), F.col("id"))
    b = spark.range(400, 1000).select(F.lit("b").alias("g"), F.col("id"))
    sk = (
        a.unionByName(b)
        .groupBy("g")
        .agg(F.expr("theta_sketch_agg(id, 14)").alias("sk"))
    )
    row = (
        sk.groupBy()
        .pivot("g", ["a", "b"])
        .agg(F.first("sk"))
        .select(
            F.expr("theta_sketch_estimate(theta_union(a, b))").alias("u"),
            F.expr("theta_sketch_estimate(theta_intersection(a, b))").alias("i"),
            F.expr("theta_sketch_estimate(theta_difference(a, b))").alias("d"),
        )
        .collect()[0]
    )
    assert (row["u"], row["i"], row["d"]) == (1000, 200, 400)


def test_hll_union_of_partials_keeps_direct_sketch_bound(spark):
    """The HLL mergeability invariant the hll_distinct_rollup query
    attests: a union of per-bucket partial sketches carries the same error
    bound as sketching the whole column directly, for any bucketing and
    any grouping of the union. DataSketches promises that bound, not equal
    estimates: 7 buckets gave 1900, the same partials regrouped 1897, and
    the direct sketch 1902."""
    exact = 1900
    est = "hll_sketch_estimate(hll_union_agg(sk))"
    for buckets in (1, 3, 7, 13):
        df = spark.range(0, 5000).select(
            (F.col("id") % buckets).alias("bucket"), (F.col("id") % exact).alias("v")
        )
        partial = df.groupBy("bucket").agg(F.expr("hll_sketch_agg(v, 14)").alias("sk"))
        merged = partial.agg(F.expr(est).alias("est")).collect()[0]["est"]
        two_level = (
            partial.groupBy((F.col("bucket") % 2).alias("half"))
            .agg(F.expr("hll_union_agg(sk)").alias("sk"))
            .agg(F.expr(est).alias("est"))
            .collect()[0]["est"]
        )
        # lgK=14 relative standard error ~0.8%; observed within 0.3%
        for got in (merged, two_level):
            assert abs(got - exact) * 100 <= exact, (buckets, merged, two_level)
    direct = df.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(v, 14))").alias("est")
    ).collect()[0]["est"]
    assert abs(direct - exact) * 100 <= exact, direct


def test_synthdocs_arrow_path_bit_equal_to_tuple_path(spark):
    """The Arrow wire format (.option('arrow','true'): read() yields
    pyarrow RecordBatches instead of row tuples) is a pure serialization
    change: same options -> bit-identical rows, schema included, across
    an arrow_batch_rows boundary (batch 4096 vs 100-row partitions and
    a non-divisible 1000-row run)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pydatasource import (
        SynthDocsDataSource,
    )

    spark.dataSource.register(SynthDocsDataSource)

    def load(arrow: bool, rows: int, parts: int):
        return (
            spark.read.format("synthdocs")
            .option("n_partitions", parts)
            .option("rows_per_partition", rows // parts)
            .option("arrow", str(arrow).lower())
            .option("arrow_batch_rows", 300)  # force mid-partition batch splits
            .load()
        )

    for rows, parts in ((400, 4), (1000, 4)):
        t = load(False, rows, parts)
        a = load(True, rows, parts)
        assert a.schema == t.schema
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, t.collect()))


def test_synthdocs_stream_matches_batch_and_resumes(spark, tmp_path):
    """The streaming half of the Python DataSource: (a) streamed rows are
    value-identical to the batch read of the same id range (one content
    contract, two execution modes); (b) a second run on the SAME
    checkpoint with a larger target generates ONLY the continuation —
    the offset log gives a Python source the same exactly-once contract
    as a built-in one."""
    import os

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pydatasource import (
        SynthDocsDataSource,
    )

    spark.dataSource.register(SynthDocsDataSource)
    outp, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once(target: int) -> None:
        s = (
            spark.readStream.format("synthdocs")
            .option("target_rows", target)
            .option("n_partitions", 3)
            .load()
        )
        (
            s.writeStream.foreachBatch(
                lambda b, _e: b.write.mode("append").parquet(outp)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_once(120)
    first = spark.read.parquet(outp)
    assert first.count() == 120
    run_once(200)
    both = spark.read.parquet(outp)
    # exactly-once continuation: 200 rows total, ids 0..199, no dup
    assert both.count() == 200
    assert both.select("doc_id").distinct().count() == 200
    assert both.agg(F.max("doc_id")).collect()[0][0] == 199

    # batch/stream parity: same ids -> identical rows
    batch = (
        spark.read.format("synthdocs")
        .option("n_partitions", 4)
        .option("rows_per_partition", 50)
        .load()
    )
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, both.collect()))


def test_synthdocs_stream_restart_below_committed_offset(spark, tmp_path):
    """Restarting a checkpoint with target_rows BELOW the committed offset
    is an explicit ROLLBACK of the source's high-water mark. The pinned
    semantics: the rollback batch emits ZERO rows without failing (a raise
    would wedge the checkpoint — Spark logs the planned offset before
    partitions() runs and replays it on every recovery, verified
    empirically), Spark commits the smaller offset, and a later catch-up
    re-emits the rolled-back window — duplicates in an append sink by
    design (Kafka failOnDataLoss=false semantics), absorbed by
    idempotent/keyed sinks."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pydatasource import (
        SynthDocsDataSource,
    )

    spark.dataSource.register(SynthDocsDataSource)
    outp, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once(target: int) -> None:
        s = (
            spark.readStream.format("synthdocs")
            .option("target_rows", target)
            .option("n_partitions", 3)
            .load()
        )
        (
            s.writeStream.foreachBatch(
                lambda b, _e: b.write.mode("append").parquet(outp)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_once(90)
    run_once(40)  # rollback: zero-row batch, no failure, offset -> 40
    mid = spark.read.parquet(outp)
    assert mid.count() == 90  # the rollback batch itself emitted nothing
    run_once(130)  # catch-up re-emits the rolled-back window 40..89
    final = spark.read.parquet(outp)
    assert final.count() == 180  # 90 original + 90 catch-up (40..129)
    assert final.select("doc_id").distinct().count() == 130  # ids 0..129
    # the re-emitted window is exactly the rollback span, each id once
    dup_ids = (
        final.groupBy("doc_id").count().filter(F.col("count") > 1)
    )
    assert dup_ids.count() == 50  # ids 40..89 seen twice, rest once
    assert dup_ids.agg(F.min("doc_id"), F.max("doc_id")).collect()[0] == (40, 89)


def test_manifest_sink_commit_protocol(spark, tmp_path):
    """Python DataSource WRITER: tasks stage uniquely-named files, the
    driver publishes one atomic manifest; readback through the manifest
    equals the input exactly, and a junk staged file (simulating an
    orphaned speculative attempt) is invisible to readers."""
    import json as _json
    import os

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        MANIFEST,
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    d = str(tmp_path / "sink")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 1.5).alias("v")
    )
    df.repartition(4).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()

    man = _json.load(open(os.path.join(d, MANIFEST + ".v00000001")))
    assert man["n_rows"] == 100
    assert len(man["files"]) == 4
    assert set(man["fields"]) == {"id", "g", "v"}
    assert man["mode"] == "append"

    # orphaned attempt: staged but never committed -> invisible
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"id": pa.array([-1], pa.int64()), "g": pa.array([-1], pa.int64()),
                  "v": pa.array([-1.0])}),
        os.path.join(d, "part-99999-deadbeef.parquet"),
    )

    back = read_manifest_sink(spark, d)
    assert back.count() == 100
    assert back.filter(F.col("id") < 0).count() == 0
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(100))


def test_manifest_sink_abort_leaves_no_manifest(spark, tmp_path):
    """A failing task aborts the job: no manifest is published and the
    staged files of successful sibling tasks are swept — the half-written
    job is invisible AND garbage-free."""
    import os

    import pytest as _pytest

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        MANIFEST,
        ManifestSinkDataSource,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    d = str(tmp_path / "sink")
    df = spark.range(40).select(
        F.col("id"),
        F.when(F.col("id") == 37, F.lit(None)).otherwise(F.col("id")).alias("poison"),
    )
    # a UDF that raises inside one partition fails that task -> job abort
    from pyspark.sql.functions import udf

    @udf("long")
    def boom(x):
        if x is None:
            raise RuntimeError("injected task failure")
        return x

    with _pytest.raises(Exception):
        df.select(boom("poison").alias("id")).repartition(4).write.format(
            "manifestsink"
        ).option("path", d).mode("append").save()

    published = (
        [p for p in os.listdir(d) if p.startswith(MANIFEST)]
        if os.path.exists(d)
        else []
    )
    assert published == [], f"abort published manifests: {published}"
    # staged files of BOTH kinds are gone: sibling tasks' completed files
    # (swept by job abort) AND the failing task's own in-progress file
    # (removed by its mid-write cleanup before the task error propagated —
    # it never produced a commit message, so abort() alone couldn't see it)
    staged = [p for p in os.listdir(d) if p.endswith(".parquet")] if os.path.exists(d) else []
    assert staged == [], f"abort left staged files: {staged}"


def test_manifest_stream_sink_per_batch_manifests(spark, tmp_path):
    """Python STREAMING DataSource writer: each micro-batch publishes its
    own atomic _MANIFEST-<batchId>; readback through the manifests sees
    every batch's rows exactly once, end to end through BOTH custom
    Python connectors (synthdocs stream source -> manifest stream sink)."""
    import json as _json
    import os

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pydatasource import (
        SynthDocsDataSource,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        MANIFEST,
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    spark.dataSource.register(SynthDocsDataSource)
    spark.dataSource.register(ManifestSinkDataSource)
    d, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run_once(target: int) -> None:
        s = (
            spark.readStream.format("synthdocs")
            .option("target_rows", target)
            .option("n_partitions", 3)
            .load()
        )
        (
            s.writeStream.format("manifestsink")
            .option("path", d)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_once(120)
    run_once(200)
    manifests = sorted(p for p in os.listdir(d) if p.startswith(MANIFEST))
    assert len(manifests) == 2, manifests
    per_batch = [_json.load(open(os.path.join(d, m)))["n_rows"] for m in manifests]
    assert per_batch == [120, 80]

    back = read_manifest_sink(spark, d)
    assert back.count() == 200
    assert back.select("doc_id").distinct().count() == 200
    # time travel over the STREAM namespace: batchId doubles as the
    # commit version, so version=0 pins the first micro-batch's snapshot
    assert read_manifest_sink(spark, d, version=0).count() == 120


def test_parameterized_sql_named_args(spark, sf_dir):
    """spark.sql named-parameter binding (:param + args dict): the value
    arrives as a typed literal, not string interpolation — quotes in the
    value cannot break the query (injection-safe by construction)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

    load_testdata(spark, sf_dir, ["orders"])["orders"].createOrReplaceTempView(
        "orders_p"
    )
    n_f = spark.sql(
        "SELECT count(*) AS n FROM orders_p WHERE o_orderstatus = :st",
        args={"st": "F"},
    ).collect()[0]["n"]
    assert n_f > 0
    # a hostile value is just an unmatched literal, never parsed as SQL
    evil = spark.sql(
        "SELECT count(*) AS n FROM orders_p WHERE o_orderstatus = :st",
        args={"st": "F' OR '1'='1"},
    ).collect()[0]["n"]
    assert evil == 0
    # positional binding too
    pos = spark.sql(
        "SELECT count(*) AS n FROM orders_p WHERE o_orderstatus = ?",
        args=["F"],
    ).collect()[0]["n"]
    assert pos == n_f


def test_manifest_sink_vacuum_sweeps_only_unreferenced(spark, tmp_path):
    """vacuum removes exactly the files no manifest references; committed
    data survives and reads identically after the sweep."""
    import os

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        read_manifest_sink,
        vacuum_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    d = str(tmp_path / "sink")
    spark.range(50).repartition(2).write.format("manifestsink").option(
        "path", d
    ).mode("append").save()
    import pyarrow as pa
    import pyarrow.parquet as pq

    for orphan in ("part-90000-dead.parquet", "part-90001-beef.parquet"):
        pq.write_table(
            pa.table({"id": pa.array([-1], pa.int64())}), os.path.join(d, orphan)
        )

    before = read_manifest_sink(spark, d).agg(F.sum("id")).collect()[0][0]
    # default grace period: the just-written orphans are indistinguishable
    # from a CONCURRENT job's staged-not-yet-committed files, so vacuum
    # refuses them until they age past the grace window
    assert vacuum_manifest_sink(d) == []
    removed = vacuum_manifest_sink(d, grace_seconds=0)  # no writer in flight
    assert removed == ["part-90000-dead.parquet", "part-90001-beef.parquet"]
    assert len([p for p in os.listdir(d) if p.endswith(".parquet")]) == 2
    after = read_manifest_sink(spark, d).agg(F.sum("id")).collect()[0][0]
    assert before == after == sum(range(50))
    assert vacuum_manifest_sink(d, grace_seconds=0) == []  # idempotent


def test_manifest_sink_append_merges_overwrite_replaces(spark, tmp_path):
    """Mode semantics live in the commit LOG: each append publishes a
    delta commit (both jobs' rows visible — no read-modify-write of the
    other's manifest); an overwrite publishes a BASE commit readers
    resolve from. The superseded generation stays TIME-TRAVELABLE until
    its versions are expired, after which vacuum reclaims its files."""
    import os

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        expire_manifest_versions,
        read_manifest_sink,
        vacuum_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    d = str(tmp_path / "sink")
    w = lambda lo, hi, mode: (  # noqa: E731
        spark.range(lo, hi).repartition(2).write.format("manifestsink")
        .option("path", d).mode(mode).save()
    )
    w(0, 30, "append")
    w(30, 50, "append")
    assert read_manifest_sink(spark, d).count() == 50  # both appends visible
    assert vacuum_manifest_sink(d, grace_seconds=0) == []  # all files referenced

    w(100, 110, "overwrite")  # version 3: a BASE commit
    back = read_manifest_sink(spark, d)
    assert back.count() == 10
    assert back.agg(F.min("id")).collect()[0][0] == 100
    # pre-overwrite snapshots remain readable (time travel)...
    assert read_manifest_sink(spark, d, version=2).count() == 50
    # ...so vacuum reclaims NOTHING until the old versions are expired
    assert vacuum_manifest_sink(d, grace_seconds=0) == []
    expired = expire_manifest_versions(d, min_version=3)
    assert len(expired) == 2
    # the 4 pre-overwrite files are now orphaned (grace 0: no writer in flight)
    removed = vacuum_manifest_sink(d, grace_seconds=0)
    assert len(removed) == 4
    assert read_manifest_sink(spark, d).count() == 10  # still intact
    # expiring below a delta commit is refused (would orphan its base)
    import pytest as _pytest

    w(110, 115, "append")  # version 4: delta on the v3 base
    with _pytest.raises(ValueError):
        expire_manifest_versions(d, min_version=4)


def test_manifest_sink_concurrent_appends_lose_nothing(spark, tmp_path):
    """The ADVICE race, reproduced at the protocol level: two append jobs
    whose commits interleave (each staged before either published). With
    a read-modify-write merge the second publication would silently drop
    the first's files; the commit LOG instead gives each its own version
    and readers union both — no lost update, and vacuum sees every file
    referenced."""
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkWriter,
        _StagedFile,
        read_manifest_sink,
        vacuum_manifest_sink,
    )

    d = str(tmp_path / "sink")
    os.makedirs(d)
    schema = StructType([StructField("id", LongType())])
    wa = ManifestSinkWriter({"path": d}, schema, overwrite=False)
    wb = ManifestSinkWriter({"path": d}, schema, overwrite=False)
    # both jobs stage BEFORE either commits — the interleaving that
    # loses data under last-publish-wins
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, ids in (("part-00000-aaaa.parquet", [1, 2]), ("part-00000-bbbb.parquet", [3])):
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), os.path.join(d, name))
    wa.commit([_StagedFile("part-00000-aaaa.parquet", 2)])
    wb.commit([_StagedFile("part-00000-bbbb.parquet", 1)])
    back = read_manifest_sink(spark, d)
    assert sorted(r.id for r in back.collect()) == [1, 2, 3]
    assert vacuum_manifest_sink(d) == []


def test_manifest_sink_time_travel_pins_snapshot(spark, tmp_path):
    """version=k resolves commits <= k only: a later commit — including
    one still IN FLIGHT (staged files, manifest not yet published) — is
    invisible at the pinned version, and the pinned answer never changes
    as the log grows (snapshot isolation)."""
    import os

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    d = str(tmp_path / "sink")
    for lo, hi in ((0, 10), (10, 30), (30, 60)):
        spark.range(lo, hi).coalesce(1).write.format("manifestsink").option(
            "path", d
        ).mode("append").save()
    assert read_manifest_sink(spark, d, version=1).count() == 10
    assert read_manifest_sink(spark, d, version=2).count() == 30
    assert read_manifest_sink(spark, d).count() == 60
    # an in-flight job: staged, not committed — invisible everywhere
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"id": pa.array([999], pa.int64())}),
        os.path.join(d, "part-00000-inflight.parquet"),
    )
    assert read_manifest_sink(spark, d, version=2).count() == 30
    assert read_manifest_sink(spark, d).count() == 60
    assert (
        read_manifest_sink(spark, d).filter(F.col("id") == 999).count() == 0
    )


def test_manifest_log_depth_invariants(tmp_path):
    """The commit-log depth cycle as a permanent gate (the 500-commit
    leg lives in tools/stress_manifest_log.py): 120 commits, pinned
    resolves exact at every probe, mid-log overwrite restarts resolution
    at the base while pre-base pins stay readable, expire+vacuum reclaim
    exactly the orphaned generation. Pure driver protocol — no Spark
    session needed."""
    import sys

    sys.path.insert(0, _REPO_TOOLS)
    from stress_manifest_log import run_depth

    r = run_depth(str(tmp_path), 120)
    assert r["n"] == 120


import os as _os

_REPO_TOOLS = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools")


def test_manifest_stream_sink_rejects_complete_mode(spark, tmp_path):
    """outputMode('complete') republishes the cumulative result every
    batch; per-batch delta manifests would double-count every row present
    in more than one batch — the sink refuses the mode at plan time."""
    import pytest as _pytest

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    d = str(tmp_path / "sink")
    counts = (
        spark.readStream.format("rate").option("rowsPerSecond", 10).load()
        .groupBy("value").count()
    )
    with _pytest.raises(Exception, match="complete mode|append/update"):
        (
            counts.writeStream.format("manifestsink")
            .option("path", d)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def test_manifest_sink_midwrite_failure_cleans_own_staging(spark, tmp_path):
    """A task that dies INSIDE write() — after its staged file exists —
    never returns a commit message, so job abort can't sweep it; the
    task's own except-path cleanup must. Pipelines the poison UDF into
    the write stage (no shuffle barrier after it) so the raise happens
    mid-iteration, then asserts no staged .parquet survives. Single-partition so
    the assertion isolates the except-path cleanup itself (a multi-task
    job's SIBLING files are abort()-swept, but a sibling completing
    after the sweep can land later — those are invisible-by-protocol and
    vacuum's job, covered by the abort + vacuum tests)."""
    import os

    import pytest as _pytest
    from pyspark.sql.functions import udf

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    d = str(tmp_path / "sink")

    @udf("long")
    def boom(x):
        if x == 17:
            raise RuntimeError("injected mid-write failure")
        return x

    df = spark.range(40).repartition(1)  # shuffle FIRST...
    poisoned = df.select(boom("id").alias("id"))  # ...then poison pipelines
    with _pytest.raises(Exception):
        poisoned.write.format("manifestsink").option("path", d).mode(
            "append"
        ).save()
    leftovers = (
        [p for p in os.listdir(d) if p.endswith(".parquet")]
        if os.path.exists(d)
        else []
    )
    assert leftovers == [], f"mid-write failure left staging: {leftovers}"


def test_recursive_cte_cycle_terminates_with_depth_bound(spark):
    """WITH RECURSIVE on a CYCLIC graph: the depth bound is what
    guarantees termination (UNION ALL recursion would otherwise loop on
    the 3-cycle forever), and per-node min-depth grouping gives BFS
    distances."""
    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    ).createOrReplaceTempView("cyc_edges")
    rows = spark.sql(
        """
WITH RECURSIVE reach(id, depth) AS (
  SELECT CAST(1 AS BIGINT), 0
  UNION ALL
  SELECT e.dst, r.depth + 1 FROM reach r JOIN cyc_edges e ON e.src = r.id
  WHERE r.depth < 10
)
SELECT id, min(depth) AS d FROM reach GROUP BY id ORDER BY id
"""
    ).collect()
    assert [(r["id"], r["d"]) for r in rows] == [(1, 0), (2, 1), (3, 2)]
