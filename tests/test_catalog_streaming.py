"""Tests for the catalog DDL layer (G1-G7) and Structured Streaming
incrementality (M6)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fiap_machine_learning_tech_challenge_2_etl_spark.sources import catalog as G


SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("date", T.StringType()),
    ]
)


@pytest.fixture()
def ext_table(spark, tmp_path):
    """A partitioned parquet layout on disk + a registered external table."""
    loc = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", 1.0, "2024-01-01"), ("b", 2.0, "2024-01-02")], schema=SCHEMA
    )
    df.write.partitionBy("date").parquet(loc)
    G.ensure_database(spark, "testdb")
    G.ensure_external_table(
        spark, "testdb", "t1", SCHEMA, partition_by=["date"], location=loc
    )
    yield "testdb", "t1", loc
    spark.sql("DROP TABLE IF EXISTS testdb.t1")
    spark.sql("DROP DATABASE IF EXISTS testdb")


def test_ensure_idempotent(spark, ext_table):
    db, tbl, loc = ext_table
    # G1/G2 — repeat creation must not raise (reference swallows AlreadyExists)
    G.ensure_database(spark, db)
    G.ensure_external_table(spark, db, tbl, SCHEMA, ["date"], loc)


def test_ensure_external_table_partition_order_and_missing_key(spark, tmp_path):
    """PARTITIONED BY must follow the partition_by ORDER (it sets the
    directory nesting), not the schema's field order, and a partition key
    absent from the schema must raise instead of silently creating a
    table unpartitioned on it."""
    import pyspark.sql.types as T

    # schema lists month BEFORE year; partition_by wants year/month nesting
    schema = T.StructType(
        [
            T.StructField("v", T.DoubleType()),
            T.StructField("month", T.StringType()),
            T.StructField("year", T.StringType()),
        ]
    )
    G.ensure_database(spark, "testdb_order")
    try:
        G.ensure_external_table(
            spark, "testdb_order", "t_ord", schema,
            partition_by=["year", "month"], location=str(tmp_path / "t"),
        )
        desc = spark.sql("DESCRIBE testdb_order.t_ord").collect()
        names = [r["col_name"] for r in desc]
        pstart = names.index("# Partition Information")
        assert names[pstart + 2 : pstart + 4] == ["year", "month"], names
        with pytest.raises(ValueError, match="not in schema"):
            G.ensure_external_table(
                spark, "testdb_order", "t_bad", schema,
                partition_by=["day"], location=str(tmp_path / "t2"),
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS testdb_order.t_ord")
        spark.sql("DROP DATABASE IF EXISTS testdb_order CASCADE")


def test_repair_and_list_partitions(spark, ext_table):
    db, tbl, _ = ext_table
    assert G.list_partitions(spark, db, tbl) == []  # nothing registered yet
    G.repair_table(spark, db, tbl)  # G4 — discover from storage layout
    parts = sorted(p["date"] for p in G.list_partitions(spark, db, tbl))
    assert parts == ["2024-01-01", "2024-01-02"]
    # table scan resolves rows through the registered partitions
    assert spark.table(f"{db}.{tbl}").count() == 2


def test_add_partitions_set_difference(spark, ext_table, tmp_path):
    db, tbl, loc = ext_table
    G.repair_table(spark, db, tbl)
    # write a new partition directly to storage (not yet registered)
    spark.createDataFrame([("c", 3.0, "2024-01-03")], schema=SCHEMA).write.mode(
        "append"
    ).partitionBy("date").parquet(loc)
    # G6/G7 — only the missing spec registers; existing ones are diffed away
    n = G.add_partitions(
        spark, db, tbl, [{"date": "2024-01-01"}, {"date": "2024-01-03"}]
    )
    assert n == 1
    assert spark.table(f"{db}.{tbl}").count() == 3
    # idempotent re-add
    assert G.add_partitions(spark, db, tbl, [{"date": "2024-01-03"}]) == 0


def test_infer_partition_from_uri():
    # G5 — reference regexes: date=... (extract) and code=.../reference_date=... (load)
    assert G.infer_partition_from_uri(
        "s3://b/raw/date=2024-01-02/part-0.parquet", ["date"]
    ) == {"date": "2024-01-02"}
    assert G.infer_partition_from_uri(
        "s3://b/refined/code=PETR4/reference_date=2024-01-02/x.parquet",
        ["code", "reference_date"],
    ) == {"code": "PETR4", "reference_date": "2024-01-02"}
    assert G.infer_partition_from_uri("s3://b/raw/nodate/x.parquet", ["date"]) is None


def test_register_incremental(spark, ext_table, tmp_path):
    db, tbl, loc = ext_table
    G.repair_table(spark, db, tbl)
    spark.createDataFrame([("d", 4.0, "2024-01-04")], schema=SCHEMA).write.mode(
        "append"
    ).partitionBy("date").parquet(loc)
    n = G.register_incremental(
        spark, db, tbl, f"{loc}/date=2024-01-04/part-0.parquet", ["date"]
    )
    assert n == 1
    assert "2024-01-04" in {p["date"] for p in G.list_partitions(spark, db, tbl)}


# --------------------------------------------------------------------------
# streaming
# --------------------------------------------------------------------------


def _write_events_batch(spark, path, start_id, n, day):
    rows = [(start_id + i, f"2024-01-0{day} 0{i % 10}:00:00", i % 3, "click", 1.0 * i)
            for i in range(n)]
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.unix_micros(F.col("ts_s").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    ).select(
        "event_id",
        (F.col("ts_us") * 1000).alias("ts"),  # ns longs, like the testdata
        "user_id",
        "event_type",
        F.col("value"),
        F.lit('{"k": 1}').alias("props"),
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_incremental_pipeline_exactly_once(spark, tmp_path):
    """Files landed before a run are processed once; a re-run with no new
    files writes nothing new; late files are picked up on the next drain
    (checkpoint = the reference's job bookmark)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.schemas import EVENTS
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        run_incremental_pipeline,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    _write_events_batch(spark, src, 0, 5, day=1)

    def transform(df):
        return df.withColumn(
            "event_date", F.to_date(F.timestamp_micros(F.expr("ts div 1000")))
        )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    run_incremental_pipeline(
        spark, src, EVENTS, transform, out, ck, partition_by=["event_date"]
    )
    assert spark.read.parquet(out).count() == 5
    # second drain with nothing new: no duplicates
    run_incremental_pipeline(
        spark, src, EVENTS, transform, out, ck, partition_by=["event_date"]
    )
    assert spark.read.parquet(out).count() == 5
    # late file -> only it is processed; dynamic overwrite keeps day 1 intact
    _write_events_batch(spark, src, 100, 3, day=2)
    run_incremental_pipeline(
        spark, src, EVENTS, transform, out, ck, partition_by=["event_date"]
    )
    back = spark.read.parquet(out)
    assert back.count() == 8
    assert back.filter(F.col("event_date") == "2024-01-01").count() == 5


def test_incremental_pipeline_crash_replay_is_idempotent(spark, tmp_path):
    """Crash replay: a micro-batch whose output was written but whose
    checkpoint commit was lost (``commits/0`` deleted) re-runs as the
    SAME epoch on the next drain. The ``__ingest_epoch`` filter drops
    the first run's rows of that epoch before the rewrite, so the output
    row multiset is unchanged instead of doubled."""
    from collections import Counter

    from fiap_machine_learning_tech_challenge_2_etl_spark.schemas import EVENTS
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        run_incremental_pipeline,
    )

    src, out, ck = (str(tmp_path / x) for x in ("in", "out", "ck"))
    os.makedirs(src)
    _write_events_batch(spark, src, 0, 5, day=1)

    def transform(df):
        return df.withColumn(
            "event_date", F.to_date(F.timestamp_micros(F.expr("ts div 1000")))
        )

    def drain_and_read():
        run_incremental_pipeline(
            spark, src, EVENTS, transform, out, ck, partition_by=["event_date"]
        )
        return Counter(tuple(r) for r in spark.read.parquet(out).collect())

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    first = drain_and_read()
    assert sum(first.values()) == 5
    # the commit entry and its checksum, as if the driver died before
    # committing batch 0 (a leftover .crc would block the re-commit)
    for name in ("0", ".0.crc"):
        path = os.path.join(ck, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    assert drain_and_read() == first


def test_windowed_and_session_aggregations_batch_parity(spark, sf_dir):
    """Windowed/sessionized aggs run identically over a batch DataFrame —
    verify shapes + totals against plain groupBy."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        sessionized_counts,
        windowed_event_counts,
    )

    events = load_testdata(spark, sf_dir, ["events"])["events"]
    win = windowed_event_counts(events, window="6 hours")
    total = win.agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count()
    sess = sessionized_counts(events, gap="30 minutes")
    assert sess.agg(F.sum("n_events")).collect()[0][0] == events.count()
    assert {"session_start", "session_end", "user_id"} <= set(sess.columns)


def test_streaming_windowed_agg_memory_sink(spark, tmp_path):
    """Drive the windowed agg as a REAL stream (file source -> memory sink)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.schemas import EVENTS
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        windowed_event_counts,
    )

    src = str(tmp_path / "sin")
    os.makedirs(src)
    _write_events_batch(spark, src, 0, 6, day=1)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(EVENTS)
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = windowed_event_counts(stream, window="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT sum(n_events) FROM win_counts").collect()[0][0]
        assert got == 6
    finally:
        q.stop()


def test_stateful_running_stats_stream(spark, tmp_path):
    """applyInPandasWithState: state survives across micro-batches."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.schemas import EVENTS
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        running_user_stats,
    )

    src = str(tmp_path / "st")
    os.makedirs(src)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _write_events_batch(spark, src, 0, 4, day=1)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema(EVENTS)
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out = running_user_stats(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_stats")
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch: another file, state should accumulate
        _write_events_batch(spark, src, 10, 4, day=2)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM running_stats ORDER BY running_n DESC"
        ).collect()
        assert len(rows) >= 1
        by_user: dict[int, int] = {}
        for r in rows:
            by_user[r["user_id"]] = max(by_user.get(r["user_id"], 0), r["running_n"])
        # 8 events total over users 0..2
        assert sum(by_user.values()) == 8
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids across micro-batches are emitted once
    (dropDuplicatesWithinWatermark keeps bounded state)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import stream_dedup_events

    src = str(tmp_path / "src")
    rows = [(1, "2024-01-01 00:00:01"), (2, "2024-01-01 00:00:02"),
            (1, "2024-01-01 00:00:01"), (3, "2024-01-01 00:00:03"),
            (2, "2024-01-01 00:00:02")]
    spark.createDataFrame(rows, "event_id long, ts_s string").select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts")
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("event_id long, ts timestamp").parquet(src)
    deduped = stream_dedup_events(stream, keys=["event_id"], ts_col="ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dedup_sink").collect())
    assert got == [1, 2, 3]


def test_observe_metrics_free_with_action(spark, sf_dir):
    """observe() metrics ride the existing job — no extra scan, values
    available after the action."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.plans.metrics import observe_quality
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

    ev = load_testdata(spark, sf_dir, ["events"])["events"].withColumn(
        "maybe_null", F.when(F.col("value") > 50.0, None).otherwise(F.col("value"))
    )
    observed, obs = observe_quality(ev, key_cols=["maybe_null"])
    observed.write.mode("overwrite").format("noop").save()
    n_total = ev.count()
    n_null = ev.filter(F.col("maybe_null").isNull()).count()
    assert obs.get["n_rows"] == n_total
    assert obs.get["n_null_maybe_null"] == n_null


def test_stream_stream_interval_join(spark, tmp_path):
    """Clicks join to views of the same user within the preceding hour;
    both sides watermarked so buffered state is bounded."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        stream_stream_interval_join,
    )

    clicks_dir, views_dir = str(tmp_path / "clicks"), str(tmp_path / "views")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "user_id long, event_id long, ts_s string"
    ).select("user_id", "event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    # user 1: view 30 min before click (match); view 2h before (no match).
    # user 2: view AFTER the click (no match).
    mk([(1, 100, "2024-01-01 10:00:00"), (2, 200, "2024-01-01 10:00:00")]
       ).coalesce(1).write.parquet(clicks_dir)
    mk([(1, 10, "2024-01-01 09:30:00"), (1, 11, "2024-01-01 08:00:00"),
        (2, 20, "2024-01-01 10:30:00")]).coalesce(1).write.parquet(views_dir)

    schema = "user_id long, event_id long, ts timestamp"
    joined = stream_stream_interval_join(
        spark.readStream.schema(schema).parquet(clicks_dir),
        spark.readStream.schema(schema).parquet(views_dir),
        max_delay="1 hour",
    )
    # flat suffixed output: sinkable as-is, no internal alias knowledge
    q = (
        joined.select(
            F.col("event_id").alias("click_id"),
            F.col("event_id_r").alias("view_id"),
        )
        .writeStream.format("memory")
        .queryName("ssj_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["click_id"], r["view_id"])
           for r in spark.sql("SELECT * FROM ssj_sink").collect()}
    assert got == {(100, 10)}


def test_materialized_rollup_incremental_refresh(spark, tmp_path):
    """Continuous-aggregate pattern: second batch touching one day refreshes
    only that day's partition; rollup equals a full batch recompute."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        materialized_rollup,
    )

    src = str(tmp_path / "src")
    roll = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_type string, value double, ts timestamp"
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "event_type string, value double, ts_s string"
    ).select("event_type", "value", F.col("ts_s").cast("timestamp").alias("ts"))

    mk([("click", 1.0, "2024-01-01 10:00:00"),
        ("view", 2.0, "2024-01-01 11:00:00"),
        ("click", 3.0, "2024-01-02 10:00:00")]
       ).coalesce(1).write.mode("append").parquet(src)
    materialized_rollup(
        spark, src, T._parse_datatype_string(schema), roll, ckpt
    )
    # late file for day 1 only: day 1 partition refreshed, day 2 untouched
    mk([("click", 10.0, "2024-01-01 12:00:00")]
       ).coalesce(1).write.mode("append").parquet(src)
    materialized_rollup(
        spark, src, T._parse_datatype_string(schema), roll, ckpt
    )

    got = {
        (str(r["day"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(roll).collect()
    }
    assert got == {
        ("2024-01-01", "click"): (2, 11.0),
        ("2024-01-01", "view"): (1, 2.0),
        ("2024-01-02", "click"): (1, 3.0),
    }


def test_touched_days_rollup_gap_day_and_midnight_boundaries(spark):
    """The raw-ts range predicate spans [min(day), max(day)+1d) — with a
    NON-contiguous day set it admits gap-day rows that the day-membership
    filter must then exclude; and both midnight edges must land on the
    correct side (00:00:00 belongs to its day, next-day 00:00:00 does not).
    Parity oracle: the naive derived-day filter without the range predicate."""
    import datetime

    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        touched_days_rollup,
    )

    rows = [
        ("click", 1.0, "2024-01-01 00:00:00"),   # min-day midnight: in
        ("click", 2.0, "2024-01-01 23:59:59"),   # in
        ("view", 4.0, "2024-01-02 12:00:00"),    # gap day: range-admitted, must be OUT
        ("click", 8.0, "2024-01-03 00:00:00"),   # max-day midnight: in
        ("view", 16.0, "2024-01-03 23:59:59"),   # in
        ("click", 32.0, "2024-01-04 00:00:00"),  # max+1 midnight: out of range
        ("view", 64.0, "2023-12-31 23:59:59"),   # before range: out
    ]
    base = spark.createDataFrame(
        rows, "event_type string, value double, ts_s string"
    ).select("event_type", "value", F.col("ts_s").cast("timestamp").alias("ts"))
    days = [datetime.date(2024, 1, 1), datetime.date(2024, 1, 3)]

    got = {
        (str(r["day"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in touched_days_rollup(base, days).collect()
    }
    naive = (
        base.withColumn("day", F.to_date("ts"))
        .filter(F.col("day").isin(days))
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    want = {
        (str(r["day"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in naive.collect()
    }
    assert got == want == {
        ("2024-01-01", "click"): (2, 3.0),
        ("2024-01-03", "click"): (1, 8.0),
        ("2024-01-03", "view"): (1, 16.0),
    }


def test_materialized_rollup_enforces_days_per_batch_bound(spark, tmp_path):
    """The touched-days driver collect is a scale CONTRACT: a micro-batch
    touching more distinct days than max_days_per_batch must raise, not
    silently grow the collect (the 100 TB bound enforced, not commented)."""
    import pyspark.errors

    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        materialized_rollup,
    )

    src = str(tmp_path / "src")
    schema = "event_type string, value double, ts timestamp"
    spark.createDataFrame(
        [("click", 1.0, f"2024-01-{d:02d} 10:00:00") for d in (1, 2, 3)],
        "event_type string, value double, ts_s string",
    ).select(
        "event_type", "value", F.col("ts_s").cast("timestamp").alias("ts")
    ).coalesce(1).write.mode("append").parquet(src)

    with pytest.raises(
        (ValueError, pyspark.errors.PySparkException), match="distinct days"
    ):
        materialized_rollup(
            spark,
            src,
            T._parse_datatype_string(schema),
            str(tmp_path / "rollup"),
            str(tmp_path / "ckpt"),
            max_days_per_batch=2,
        )


def test_csv_jsonl_tolerant_round_trip(spark, tmp_path):
    """CSV/JSONL read with explicit schema quarantines malformed rows into
    _corrupt_record instead of failing; clean rows round-trip."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.text_formats import (
        quarantine_corrupt,
        read_csv,
        read_jsonl,
        write_jsonl,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "part.csv").write_text("k,v\na,1\nb,not_a_number\nc,3\n")
    clean, rejects = quarantine_corrupt(read_csv(spark, str(csv_dir), schema))
    assert {(r["k"], r["v"]) for r in clean.collect()} == {("a", 1), ("c", 3)}
    assert rejects.count() == 1

    jl_dir = tmp_path / "jl"
    jl_dir.mkdir()
    (jl_dir / "part.json").write_text(
        '{"k": "a", "v": 1}\n{"k": "b", "v": }\n{"k": "c", "v": 3}\n'
    )
    clean_j, rejects_j = quarantine_corrupt(read_jsonl(spark, str(jl_dir), schema))
    assert {(r["k"], r["v"]) for r in clean_j.collect()} == {("a", 1), ("c", 3)}
    assert rejects_j.count() == 1

    out = str(tmp_path / "out_jsonl")
    write_jsonl(clean_j, out)
    back, _ = quarantine_corrupt(read_jsonl(spark, out, schema))
    assert {(r["k"], r["v"]) for r in back.collect()} == {("a", 1), ("c", 3)}


def test_xml_tolerant_round_trip(spark, tmp_path):
    """Spark 4 native XML: explicit-schema read quarantines type-malformed
    <row> elements into _corrupt_record instead of failing; clean rows
    survive write_xml -> read_xml exactly."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.text_formats import (
        quarantine_corrupt,
        read_xml,
        write_xml,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    xml_dir = tmp_path / "xml"
    xml_dir.mkdir()
    (xml_dir / "part.xml").write_text(
        "<rows><row><k>a</k><v>1</v></row>"
        "<row><k>b</k><v>not_a_number</v></row>"
        "<row><k>c</k><v>3</v></row></rows>"
    )
    clean, rejects = quarantine_corrupt(read_xml(spark, str(xml_dir), schema))
    assert {(r["k"], r["v"]) for r in clean.collect()} == {("a", 1), ("c", 3)}
    assert rejects.count() == 1

    out = str(tmp_path / "out_xml")
    write_xml(clean, out)
    back, _ = quarantine_corrupt(read_xml(spark, out, schema))
    assert {(r["k"], r["v"]) for r in back.collect()} == {("a", 1), ("c", 3)}


def test_stream_upsert_by_key_cdc_merge(spark, tmp_path):
    """Streaming CDC merge: a second drain carrying new versions of
    existing keys replaces them (no duplicates), new keys append, and
    intra-batch key collisions keep the highest dedup_order version."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        stream_upsert_by_key,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    schema = "id long, name string, ver long, day string"

    spark.createDataFrame(
        [(1, "a", 1, "2024-01-01"), (2, "b", 1, "2024-01-01"),
         (3, "c", 1, "2024-01-02")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    stream_upsert_by_key(
        spark, src, T._parse_datatype_string(schema), out, ck,
        keys=["id"], partition_by=["day"], dedup_order="ver",
    )
    assert spark.read.parquet(out).count() == 3

    # second file: key 1 updated twice in-batch (keep ver 3), key 4 new
    spark.createDataFrame(
        [(1, "a2", 2, "2024-01-01"), (1, "a3", 3, "2024-01-01"),
         (4, "d", 1, "2024-01-02")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    stream_upsert_by_key(
        spark, src, T._parse_datatype_string(schema), out, ck,
        keys=["id"], partition_by=["day"], dedup_order="ver",
    )
    got = {(r["id"], r["name"], r["ver"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "a3", 3), (2, "b", 1), (3, "c", 1), (4, "d", 1)}

    # LATE redelivery of an OLD version in a third drain: the versioned
    # merge must NOT regress key 1 back to ver 1 — the final table is a
    # function of the delivered row set, not of batch boundaries
    spark.createDataFrame([(1, "stale", 1, "2024-01-01")], schema).coalesce(
        1
    ).write.mode("append").parquet(src)
    stream_upsert_by_key(
        spark, src, T._parse_datatype_string(schema), out, ck,
        keys=["id"], partition_by=["day"], dedup_order="ver",
    )
    got = {(r["id"], r["name"], r["ver"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "a3", 3), (2, "b", 1), (3, "c", 1), (4, "d", 1)}


def test_upsert_by_key_versioned_merge_and_map_tiebreak(spark, tmp_path):
    """upsert_by_key(order_col=...) keeps the max-version row across
    calls (no late-old-version regression) and must not crash when the
    schema carries an unorderable map column (skipped in the tiebreak)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import upsert_by_key

    path = str(tmp_path / "tbl")
    rows = lambda *rs: spark.createDataFrame(  # noqa: E731
        list(rs), "id long, ver long, attrs map<string,string>, day string"
    )
    upsert_by_key(
        spark, rows((1, 2, {"v": "new"}, "d1")), path,
        keys=["id"], partition_by=["day"], order_col="ver",
    )
    # old version arrives later: must lose to the stored ver=2
    upsert_by_key(
        spark, rows((1, 1, {"v": "old"}, "d1"), (2, 1, {"v": "b"}, "d1")), path,
        keys=["id"], partition_by=["day"], order_col="ver",
    )
    got = {(r["id"], r["ver"], dict(r["attrs"])["v"])
           for r in spark.read.parquet(path).collect()}
    assert got == {(1, 2, "new"), (2, 1, "b")}


def test_upsert_by_key_versioned_null_keys_and_nested_maps(spark, tmp_path):
    """NULL-key rows bypass the version window (the blind mode's anti-join
    never matches nulls; a window would collapse all of them to one
    survivor), and a struct-nested map column is excluded from the
    tiebreak instead of crashing the plan."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import upsert_by_key

    path = str(tmp_path / "tbl")
    schema = "id long, ver long, payload struct<tags: map<string,string>>, day string"
    rows = lambda *rs: spark.createDataFrame(list(rs), schema)  # noqa: E731
    upsert_by_key(
        spark,
        rows((None, 1, {"tags": {"a": "1"}}, "d1"), (None, 2, {"tags": {"a": "2"}}, "d1")),
        path, keys=["id"], partition_by=["day"], order_col="ver",
    )
    # both distinct null-key rows survive the first write
    assert spark.read.parquet(path).count() == 2
    upsert_by_key(
        spark, rows((None, 3, {"tags": {}}, "d1"), (5, 1, {"tags": {}}, "d1")),
        path, keys=["id"], partition_by=["day"], order_col="ver",
    )
    back = spark.read.parquet(path)
    # all three null-key rows coexist (never merged); keyed row upserted
    assert back.filter(F.col("id").isNull()).count() == 3
    assert back.filter(F.col("id") == 5).count() == 1


def test_incremental_pipeline_partition_spanning_batches(spark, tmp_path):
    """THE round-8 data-loss regression pin: two landed files carrying the
    same output partition, drained as two micro-batches
    (maxFilesPerTrigger=1) — the touched-partition merge must keep BOTH
    files' rows, where a bare per-batch dynamic overwrite kept only the
    second batch's. Also covers late files for an already-written
    partition across separate drains."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        run_incremental_pipeline,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    schema = "id long, day string"
    mk = lambda *rs: spark.createDataFrame(list(rs), schema)  # noqa: E731
    mk((1, "2024-01-01")).coalesce(1).write.mode("append").parquet(src)
    mk((2, "2024-01-01"), (3, "2024-01-02")).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    run_incremental_pipeline(
        spark, src, T._parse_datatype_string(schema), lambda df: df, out, ck,
        partition_by=["day"], max_files_per_trigger=1,
    )
    back = spark.read.parquet(out)
    assert {r["id"] for r in back.collect()} == {1, 2, 3}
    assert back.filter(F.col("day") == "2024-01-01").count() == 2
    # a LATE file for day 1 in a separate drain merges, not replaces
    mk((4, "2024-01-01")).coalesce(1).write.mode("append").parquet(src)
    run_incremental_pipeline(
        spark, src, T._parse_datatype_string(schema), lambda df: df, out, ck,
        partition_by=["day"], max_files_per_trigger=1,
    )
    back = spark.read.parquet(out)
    assert {r["id"] for r in back.collect()} == {1, 2, 3, 4}
    assert back.filter(F.col("day") == "2024-01-01").count() == 3


def test_stream_static_enrich_matches_batch_join(spark, sf_dir, tmp_path):
    """Stream-static broadcast join: streaming the fact in two files and
    enriching per micro-batch must equal the plain batch join exactly."""
    from pyspark.sql import functions as F
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        stream_enrich_with_dim,
    )

    t = load_testdata(spark, sf_dir, ["events", "customer"])
    e = t["events"].filter(F.col("user_id").isNotNull()).select(
        "event_id", "user_id", "value"
    )
    cust = t["customer"].select("c_custkey", "c_mktsegment")
    inp, outp, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    e.filter(F.col("event_id") % 2 == 0).repartition(1).write.mode("append").parquet(inp)
    e.filter(F.col("event_id") % 2 == 1).repartition(1).write.mode("append").parquet(inp)
    stream = spark.readStream.schema(e.schema).option("maxFilesPerTrigger", 1).parquet(inp)
    enriched = stream_enrich_with_dim(
        stream, cust, on=[F.col("user_id") == F.col("c_custkey")], how="inner"
    ).select("event_id", "user_id", "c_mktsegment")

    (
        enriched.writeStream.foreachBatch(
            lambda b, _: b.write.mode("append").parquet(outp)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r["event_id"], r["c_mktsegment"])
        for r in spark.read.parquet(outp).collect()
    }
    want = {
        (r["event_id"], r["c_mktsegment"])
        for r in e.join(cust, e["user_id"] == cust["c_custkey"], "inner").collect()
    }
    assert got == want and len(got) > 0


def test_stream_enrich_broadcast_lever(spark, sf_dir):
    """broadcast=False drops the hard hint so an SF-proportional dim can't
    force an executor-sized copy — with auto-broadcast off, the hinted
    plan broadcasts and the unhinted one degrades to a shuffle join."""
    from pyspark.sql import functions as F
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        stream_enrich_with_dim,
    )

    t = load_testdata(spark, sf_dir, ["events", "customer"])
    e = t["events"].select("event_id", "user_id")
    cust = t["customer"].select("c_custkey", "c_mktsegment")
    on = [F.col("user_id") == F.col("c_custkey")]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = stream_enrich_with_dim(e, cust, on=on)._jdf.queryExecution().executedPlan().toString()
        plain = stream_enrich_with_dim(e, cust, on=on, broadcast=False)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" in hinted, hinted
    assert "BroadcastHashJoin" not in plain, plain


def test_upsert_by_key_versioned_reserved_columns_raise(spark, tmp_path):
    """The versioned merge's internal marker columns are guarded: an input
    that already carries __is_new/__rn fails loudly instead of silently
    colliding with the window bookkeeping."""
    import pytest

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import upsert_by_key

    df = spark.createDataFrame([(1, 1, 0, "d1")], "id long, ver long, __is_new int, day string")
    with pytest.raises(ValueError, match="reserved"):
        upsert_by_key(
            spark, df, str(tmp_path / "t"), keys=["id"],
            partition_by=["day"], order_col="ver",
        )


def _protobuf_available() -> bool:
    """Delegates to the library's own gate (streaming.incremental
    .tws_available) so the skipif condition and the operator's eager
    raise can never drift apart."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import tws_available

    return tws_available()


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas needs google.protobuf for its "
    "state-server protocol; not installed in this container (and installs "
    "are out of scope). applyInPandasWithState covers the custom-stateful "
    "surface — see test_stateful_running_stats_stream.",
)
def test_transform_with_state_running_sum(spark, tmp_path):
    """Spark 4's transformWithStateInPandas (the applyInPandasWithState
    successor: typed value/list/map state, timers, TTL): per-key running
    sum must survive across micro-batches. Gated on protobuf — runs
    wherever the dependency exists, documents the API either way."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming import StatefulProcessor

    class RunningSum(StatefulProcessor):
        def init(self, handle) -> None:
            self.state = handle.getValueState(
                "s", T.StructType([T.StructField("total", T.LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            total = self.state.get()[0] if self.state.exists() else 0
            for pdf in rows:
                total += int(pdf["v"].sum())
            self.state.update((total,))
            yield pd.DataFrame({"k": [key[0]], "total": [total]})

        def close(self) -> None:
            pass

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "tws")
        spark.range(0, 100).select(
            (F.col("id") % 5).alias("k"), F.col("id").alias("v")
        ).repartition(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("k long, v long").parquet(src)
        out = stream.groupBy("k").transformWithStateInPandas(
            statefulProcessor=RunningSum(),
            outputStructType="k long, total long",
            outputMode="Update",
            timeMode="None",
        )
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_sum")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r["k"]: r["total"]
                for r in spark.sql(
                    "SELECT k, max(total) AS total FROM tws_sum GROUP BY k"
                ).collect()
            }
            assert got == {k: sum(range(k, 100, 5)) for k in range(5)}
        finally:
            q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_incremental_pipeline_reserved_epoch_column_raises(spark, tmp_path):
    """A transform whose output already carries __ingest_epoch must fail
    loudly — silently overwriting it would corrupt the replay filter and
    leak the internal column into the public schema."""
    import pytest

    from fiap_machine_learning_tech_challenge_2_etl_spark.schemas import EVENTS
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        run_incremental_pipeline,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    _write_events_batch(spark, src, 0, 3, day=1)

    def bad_transform(df):
        return df.withColumn(
            "event_date", F.to_date(F.timestamp_micros(F.expr("ts div 1000")))
        ).withColumn("__ingest_epoch", F.lit(99))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    with pytest.raises(Exception, match="__ingest_epoch"):
        run_incremental_pipeline(
            spark,
            src,
            EVENTS,
            bad_transform,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
            partition_by=["event_date"],
        )


def test_stream_stream_interval_join_suffix_collision_raises(spark):
    """A left column that already ends with the suffixed name of a right
    column (e.g. left literally has 'ts_r') would recreate the
    duplicate-column unsinkable output — the join must refuse upfront."""
    import pytest

    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        stream_stream_interval_join,
    )

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7)], "user_id long, ts_s string, ts_r long"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "ts_r")
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00")], "user_id long, ts_s string"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    with pytest.raises(ValueError, match="right_suffix.*collides"):
        stream_stream_interval_join(left, right)


def test_incremental_pipeline_semi_join_pruning_regime(spark, tmp_path):
    """The r09 two-regime pruning pin for the STREAMING sink: a
    micro-batch touching > _MAX_LITERAL_PARTITION_FILTER (100) output
    partitions must merge via the broadcast semi-join regime and still
    keep every prior partition's rows intact (the literal OR-chain and
    the semi-join must be behaviorally identical)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import (
        _MAX_LITERAL_PARTITION_FILTER,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        run_incremental_pipeline,
    )

    n = _MAX_LITERAL_PARTITION_FILTER + 20  # 120 partitions > the cap
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    schema = "id long, day string"
    sch = T._parse_datatype_string(schema)
    # drain 1: one row in each of n partitions
    spark.range(n).selectExpr(
        "id", "concat('d', lpad(cast(id AS string), 4, '0')) AS day"
    ).coalesce(1).write.mode("append").parquet(src)
    run_incremental_pipeline(
        spark, src, sch, lambda df: df, out, ck, partition_by=["day"]
    )
    assert spark.read.parquet(out).count() == n
    # drain 2: a second row for EVERY partition — touched count exceeds
    # the literal cap, so the merge goes through the semi-join regime
    spark.range(n).selectExpr(
        "id + 1000000 AS id",
        "concat('d', lpad(cast(id AS string), 4, '0')) AS day",
    ).coalesce(1).write.mode("append").parquet(src)
    run_incremental_pipeline(
        spark, src, sch, lambda df: df, out, ck, partition_by=["day"]
    )
    back = spark.read.parquet(out)
    assert back.count() == 2 * n  # batch-2 rows merged, batch-1 survived
    assert back.select("day").distinct().count() == n
    per = back.groupBy("day").count().agg(
        F.min("count").alias("lo"), F.max("count").alias("hi")
    ).first()
    assert (per["lo"], per["hi"]) == (2, 2)


def test_incremental_pipeline_partition_cap_refuses_batch_without_commit(spark, tmp_path):
    """``max_partitions_per_batch`` is enforced before anything is read
    or written: a micro-batch touching cap + 1 output partitions raises
    the over-cap error (naming the micro-batch and both remedies), leaves
    the output directory byte-for-byte unchanged, and is not committed to
    the checkpoint — a re-run with a larger cap drains it to the same
    rows as a run that never hit the cap."""
    from collections import Counter

    import pyspark.errors

    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        run_incremental_pipeline,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    schema = "id long, day string"
    sch = T._parse_datatype_string(schema)

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def drain(name, **kw):
        run_incremental_pipeline(
            spark, src, sch, lambda df: df, str(tmp_path / name),
            str(tmp_path / f"{name}_ck"), partition_by=["day"], **kw,
        )

    def snapshot(name):
        root = tmp_path / name
        return {
            str(f.relative_to(root)): f.read_bytes()
            for f in sorted(root.rglob("*"))
            if f.is_file()
        }

    def rows(name):
        return Counter(
            tuple(r) for r in spark.read.parquet(str(tmp_path / name)).collect()
        )

    land([(1, "d1"), (2, "d2")])  # epoch 0: two partitions, at the cap
    drain("capped", max_partitions_per_batch=2)
    drain("uncapped")
    before = snapshot("capped")

    land([(3, "d1"), (4, "d2"), (5, "d3")])  # epoch 1: cap + 1 partitions
    with pytest.raises(
        (ValueError, pyspark.errors.PySparkException),
        match=r"micro-batch 1 touches > 2 output partitions; lower "
        r"maxFilesPerTrigger or raise max_partitions_per_batch",
    ):
        drain("capped", max_partitions_per_batch=2)
    assert snapshot("capped") == before
    assert not os.path.exists(tmp_path / "capped_ck" / "commits" / "1")

    drain("capped", max_partitions_per_batch=3)
    drain("uncapped")
    assert sum(rows("capped").values()) == 5
    assert rows("capped") == rows("uncapped")


def test_stream_interval_join_outer_unmatched_exactly_once(spark, tmp_path):
    """LEFT-OUTER interval join: a click with no view in its window emits
    exactly ONE NULL-padded row, and only after the watermark passes its
    eviction point (left.ts + max_delay). Sentinel rows (user -1, far
    future, on BOTH sides) push the watermark; two extra availableNow
    passes perform advance-then-evict. Matched clicks emit exactly one
    joined row and never a NULL twin."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        stream_stream_interval_join,
    )

    lin, rin = str(tmp_path / "l"), str(tmp_path / "r")
    outp, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    hours = lambda h: F.timestamp_micros(F.lit(3_600_000_000) * h)  # noqa: E731
    # clicks: users 0..9 at t=1000+u hours; views: only EVEN users, 30 min
    # before their click (inside the 1h window)
    clicks = spark.createDataFrame(
        [(u, u) for u in range(10)], "event_id long, user_id long"
    ).select("event_id", "user_id", hours(1000 + F.col("user_id")).alias("ts"))
    views = spark.createDataFrame(
        [(100 + u, u) for u in range(0, 10, 2)], "event_id long, user_id long"
    ).select(
        "event_id",
        "user_id",
        F.timestamp_micros(
            F.lit(3_600_000_000) * (1000 + F.col("user_id")) - F.lit(1_800_000_000)
        ).alias("ts"),
    )
    clicks.coalesce(1).write.parquet(lin)
    views.coalesce(1).write.parquet(rin)
    schema = "event_id long, user_id long, ts timestamp"

    def run_once() -> None:
        j = stream_stream_interval_join(
            spark.readStream.schema(schema).parquet(lin),
            spark.readStream.schema(schema).parquet(rin),
            max_delay="1 hour",
            watermark="1 hour",
            how="left_outer",
        )

        def sink(b, _e):
            b.write.mode("append").parquet(outp)

        (
            j.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_once()
    got_early = spark.read.parquet(outp).filter(F.col("user_id") >= 0)
    # End of run 1: max event time is click u=9 at 1009h, so the watermark
    # is 1008h (1h delay) and availableNow's terminal no-data batch evicts
    # exactly the unmatched clicks whose eviction point ts+1h < 1008h —
    # odd users 1,3,5. Users 7 and 9 must NOT have emitted: the watermark
    # has not yet proven no future view can match them.
    early_nulls = {
        r["user_id"]
        for r in got_early.filter(F.col("user_id_r").isNull()).collect()
    }
    assert early_nulls == {1, 3, 5}
    for gen, h in ((900, 5000), (901, 9000)):
        s = spark.createDataFrame(
            [(gen, -1)], "event_id long, user_id long"
        ).select("event_id", "user_id", hours(h).alias("ts"))
        s.coalesce(1).write.mode("append").parquet(lin)
        s.coalesce(1).write.mode("append").parquet(rin)
        run_once()
    out = spark.read.parquet(outp).filter(F.col("user_id") >= 0)
    rows = {
        r["event_id"]: (r["event_id_r"], r["user_id_r"])
        for r in out.collect()
    }
    assert out.count() == 10  # exactly once per click — no dup emissions
    for u in range(10):
        if u % 2 == 0:
            assert rows[u] == (100 + u, u)  # matched: joined row, no NULL twin
        else:
            assert rows[u] == (None, None)  # unmatched: one NULL-padded row


def test_drain_sentinel_flush_guards(spark, tmp_path):
    """The single-lifecycle drain's contract is ASSERTED, not assumed:
    non-local paths (mtime stamping has no object-store equivalent), a
    reused checkpoint (would skip the sentinel batches), and a disabled
    no-data micro-batch conf (performs the final eviction) each raise
    eagerly before any stream starts."""
    import pytest

    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        drain_interval_join_with_sentinel_flush,
    )

    lin, rin = str(tmp_path / "l"), str(tmp_path / "r")
    outp, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(lin), os.makedirs(rin)
    args = dict(
        out_path=outp, schema="event_id long", max_ts=None, build_join=None
    )
    with pytest.raises(ValueError, match="local filesystem paths"):
        drain_interval_join_with_sentinel_flush(
            spark, "s3://bucket/l", rin, checkpoint=ckpt, **args
        )
    os.makedirs(os.path.join(ckpt, "offsets"))
    with pytest.raises(ValueError, match="FRESH checkpoint"):
        drain_interval_join_with_sentinel_flush(
            spark, lin, rin, checkpoint=ckpt, **args
        )
    ck2 = str(tmp_path / "ck2")
    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(conf, "false")
    try:
        with pytest.raises(ValueError, match="noDataMicroBatches"):
            drain_interval_join_with_sentinel_flush(
                spark, lin, rin, checkpoint=ck2, **args
            )
    finally:
        spark.conf.set(conf, "true")


def test_drain_sentinel_files_unique_per_drain(spark, tmp_path):
    """Each drain lands its OWN sentinel files: a second drain over the
    same input directories (fresh checkpoint) must not overwrite the
    sentinel files the first drain's stream already ingested."""
    import datetime
    import glob

    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        drain_interval_join_with_sentinel_flush,
        stream_stream_interval_join,
    )

    lin, rin = str(tmp_path / "l"), str(tmp_path / "r")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "event_id long, user_id long, event_type string, ts_s string"
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id",
        "event_type",
    )
    mk([(100, 1, "click", "2024-01-01 10:00:00")]).coalesce(1).write.parquet(lin)
    mk([(10, 1, "view", "2024-01-01 09:30:00")]).coalesce(1).write.parquet(rin)
    schema = spark.read.parquet(lin).schema

    def build_join(left, right):
        return stream_stream_interval_join(
            left, right, key="user_id", max_delay="1 hour",
            watermark="1 hour", how="left_outer",
        ).select(F.col("event_id").alias("click_id"), "user_id")

    for i in range(2):
        drain_interval_join_with_sentinel_flush(
            spark, lin, rin, str(tmp_path / f"out{i}"),
            str(tmp_path / f"ck{i}"), schema,
            datetime.datetime(2024, 1, 1, 10), build_join,
        )
        got = spark.read.parquet(str(tmp_path / f"out{i}"))
        assert [r.click_id for r in got.filter("user_id = 1").collect()] == [100]
    for d in (lin, rin):
        names = glob.glob(os.path.join(d, "sentinel-gen*.parquet"))
        # two generations per drain, two drains, no file reused
        assert len(names) == 4, names


def test_stream_interval_join_validation(spark):
    """Invalid ``how`` and malformed interval bodies fail eagerly at the
    call site with the parameter name, not at analysis time with a
    generic parse error."""
    import pytest

    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        stream_stream_interval_join,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "user_id long, ts_s string"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    with pytest.raises(ValueError, match="how must be one of"):
        stream_stream_interval_join(df, df, how="left")
    with pytest.raises(ValueError, match="max_delay"):
        stream_stream_interval_join(df, df, max_delay="an hour")
    with pytest.raises(ValueError, match="watermark"):
        stream_stream_interval_join(df, df, watermark="1 lightyear")


def test_rocksdb_state_store_roundtrip(spark, tmp_path):
    """RocksDB state store (get_session(streaming=True)'s provider): the
    custom stateful operator must produce identical running stats under
    RocksDBStateStoreProvider — the provider that survives 100 TB stream
    state (disk-backed, bounded memory) where the default heap-backed
    store OOMs. Also pins that get_session(streaming=True) actually sets
    the conf (runtime-settable, so it applies to the shared session too)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.session import get_session
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        running_user_stats,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    try:
        s2 = get_session("tests", shuffle_partitions=8, streaming=True)
        assert s2.conf.get(key).endswith("RocksDBStateStoreProvider")
        src = str(tmp_path / "src")
        (
            spark.range(0, 200)
            .select(
                (F.col("id") % 7).alias("user_id"),
                F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
                F.col("id").cast("double").alias("value"),
            )
            .coalesce(1)
            .write.parquet(src)
        )
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).parquet(src)
        q = (
            running_user_stats(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("rocks_rt")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r["user_id"]: (r["n"], r["t"])
                for r in spark.sql(
                    "SELECT user_id, max(running_n) n, max(running_total) t "
                    "FROM rocks_rt GROUP BY user_id"
                ).collect()
            }
        finally:
            q.stop()
        exp = {
            k: (
                len(range(k, 200, 7)),
                float(sum(range(k, 200, 7))),
            )
            for k in range(7)
        }
        assert got == exp
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas needs google.protobuf (state-server "
    "protocol); absent in this container — gate documented in "
    "streaming/incremental.py::tws_available",
)
def test_tws_running_stats_parity(spark, tmp_path):
    """running_user_stats_tws (transformWithStateInPandas) must produce
    the SAME final per-user (running_n, running_total) as the
    applyInPandasWithState op and the batch oracle, across two
    micro-batches (state survival on the successor API)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        running_user_stats,
        running_user_stats_tws,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "src")
        for lo, hi in ((0, 150), (150, 300)):
            (
                spark.range(lo, hi)
                .select(
                    (F.col("id") % 5).alias("user_id"),
                    F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
                    (F.col("id") * 0.5).alias("value"),
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )

        def final_stats(op, name):
            stream = spark.readStream.option("maxFilesPerTrigger", 1).schema(
                "user_id long, ts timestamp, value double"
            ).parquet(src)
            q = (
                op(stream)
                .writeStream.outputMode("update")
                .format("memory")
                .queryName(name)
                .start()
            )
            try:
                q.processAllAvailable()
                return {
                    r["user_id"]: (r["n"], r["t"])
                    for r in spark.sql(
                        f"SELECT user_id, max(running_n) n, "
                        f"max(running_total) t FROM {name} GROUP BY user_id"
                    ).collect()
                }
            finally:
                q.stop()

        a = final_stats(running_user_stats, "tws_parity_apiws")
        b = final_stats(running_user_stats_tws, "tws_parity_tws")
        oracle = {
            k: (len(range(k, 300, 5)), float(sum(i * 0.5 for i in range(k, 300, 5))))
            for k in range(5)
        }
        assert a == oracle
        assert b == oracle
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@pytest.mark.skipif(
    _protobuf_available(),
    reason="only meaningful where protobuf is ABSENT (this container)",
)
def test_tws_gate_message_without_protobuf(spark):
    """Without protobuf the TWS twin must fail eagerly with the dependency
    story and the applyInPandasWithState fallback — not an opaque stack
    from inside the Python worker's state server."""
    import pytest as _pytest

    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        running_user_stats_tws,
    )

    df = spark.createDataFrame(
        [(1, 1.0)], "user_id long, value double"
    )
    with _pytest.raises(RuntimeError, match="protobuf.*running_user_stats"):
        running_user_stats_tws(df)


# ---------------------------------------------------------------------------
# state_reader: offline checkpoint state observability (Spark 4 state source)
# ---------------------------------------------------------------------------


def _run_state_agg(spark, inp: str, ckpt: str) -> None:
    """One availableNow pass of a per-key count/sum agg over `inp`,
    committing state into `ckpt`; the noop sink still runs every
    partition (state commit validation requires it)."""
    schema = "k LONG, v DOUBLE"
    stream = spark.readStream.schema(schema).parquet(inp)
    agg = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("t"))
    (
        agg.writeStream.foreachBatch(
            lambda b, _e: b.write.format("noop").mode("overwrite").save()
        )
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def test_state_store_reader_validates_against_batch(spark, tmp_path):
    """read_state_store must return exactly the state a restart would
    resume from: after two availableNow runs, the per-key state equals
    the batch aggregate of ALL input; batchId=0 reads the older partial
    state (first run only) — the time-travel half of the reader."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.state_reader import (
        read_state_store,
    )

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    first = [(1, 1.0), (2, 2.0), (1, 3.0)]
    second = [(2, 5.0), (3, 7.0)]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        spark.createDataFrame(first, "k LONG, v DOUBLE").coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        _run_state_agg(spark, inp, ckpt)
        spark.createDataFrame(second, "k LONG, v DOUBLE").coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        _run_state_agg(spark, inp, ckpt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    final = {
        (r["k"]): (r["n"], r["t"])
        for r in read_state_store(spark, ckpt)
        .select(F.col("k"), F.col("count").alias("n"), F.col("sum").alias("t"))
        .collect()
    }
    assert final == {1: (2, 4.0), 2: (2, 7.0), 3: (1, 7.0)}

    at_batch0 = {
        (r["k"]): (r["count"], r["sum"])
        for r in read_state_store(spark, ckpt, batch_id=0).collect()
    }
    assert at_batch0 == {1: (2, 4.0), 2: (1, 2.0)}

    # raw mode keeps the reader's native nested schema
    raw = read_state_store(spark, ckpt, flatten=False)
    assert {f.name for f in raw.schema.fields} == {"key", "value", "partition_id"}


def test_state_reader_addresses_both_chained_operators(spark, tmp_path):
    """A CHAINED multi-stateful query (dedup -> windowed agg, one
    checkpoint) holds TWO state stores; the offline reader must address
    each by operator_id and return deterministic contents: after one
    availableNow drain (watermark still at epoch during the batch), the
    dedup store holds every distinct event key and the agg store holds
    every (window, event_type) group — both asserted against the batch
    computation of the same feed. This is the observability contract
    multi-stateful queries need at 100 TB: per-operator state audits
    without a stream replay."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        dedup_then_windowed_counts,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.state_reader import (
        read_state_metadata,
        read_state_store,
    )

    inp, outp, ckpt = (str(tmp_path / s) for s in ("in", "out", "ckpt"))
    rows = [
        # hour = i%4; type alternates by i//4 so EVERY hour carries both
        (i, f"2024-01-01 0{i % 4}:10:00", "click" if (i // 4) % 2 else "view", float(i))
        for i in range(20)
    ]
    feed = spark.createDataFrame(
        rows, "event_id LONG, ts STRING, event_type STRING, value DOUBLE"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        # redelivered twice: the dedup operator has real work to do
        feed.coalesce(1).write.mode("append").parquet(inp)
        feed.coalesce(1).write.mode("append").parquet(inp)
        stream = spark.readStream.schema(feed.schema).parquet(inp)
        agg = dedup_then_windowed_counts(stream, window="1 hour", watermark="10 minutes")
        (
            agg.writeStream.foreachBatch(
                lambda b, _e: b.write.mode("append").parquet(outp)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    meta = read_state_metadata(spark, ckpt)
    ops = {
        r["operatorId"]: r["operatorName"] for r in meta.collect()
    }
    assert len(ops) == 2, ops  # two stateful operators, one checkpoint
    names = set(ops.values())
    assert any("dedupe" in n.lower() for n in names), names
    assert any("aggregate" in n.lower() or "statestore" in n.lower() for n in names), names

    dedup_op = next(k for k, v in ops.items() if "dedupe" in v.lower())
    agg_op = next(k for k, v in ops.items() if k != dedup_op)
    # BOTH stores are already watermark-BOUNDED — the whole point of the
    # chain. After the drain the watermark stands at max(ts)-10min =
    # 03:00, so: the dedup store evicted every key whose
    # expiresAt(=ts+10min) fell behind it and holds only the 03:10 keys
    # (i%4==3 -> 5 of 20)...
    dedup_state = read_state_store(spark, ckpt, operator_id=dedup_op, flatten=False)
    assert dedup_state.count() == 5
    # ...and the agg store emitted-and-dropped every closed window,
    # holding only the unclosed 03:00 hour (x 2 event types)
    agg_state = read_state_store(spark, ckpt, operator_id=agg_op, flatten=False)
    assert agg_state.count() == 2
    # emitted output + retained state together cover all 8 (hour, type)
    # groups exactly once — nothing lost, nothing duplicated at the
    # stateful-stateful handoff
    emitted = spark.read.parquet(outp)
    assert emitted.count() == 6
    assert emitted.select("window_start", "event_type").distinct().count() == 6


def test_state_metadata_and_size_report(spark, tmp_path):
    """state-metadata reads the topology without touching state files;
    state_size_report's per-partition key counts sum to the distinct-key
    count (the streaming skew report)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.state_reader import (
        read_state_metadata,
        state_size_report,
    )

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        spark.createDataFrame(
            [(i % 5, float(i)) for i in range(20)], "k LONG, v DOUBLE"
        ).coalesce(1).write.parquet(inp)
        _run_state_agg(spark, inp, ckpt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    meta = read_state_metadata(spark, ckpt).collect()
    assert [(m["operatorName"], m["numPartitions"]) for m in meta] == [
        ("stateStoreSave", 3)
    ]
    report = state_size_report(spark, ckpt).collect()
    assert sum(r["n_keys"] for r in report) == 5
    assert all(0 <= r["partition_id"] < 3 for r in report)


def test_read_state_store_arg_and_collision_validation(spark, tmp_path):
    """store_name and join_side are mutually exclusive; join_side is
    enum-checked; a key/value field-name collision refuses to flatten
    (silent shadowing would corrupt a validation join)."""
    import pytest as _pytest

    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.state_reader import (
        read_state_store,
    )

    with _pytest.raises(ValueError, match="not both"):
        read_state_store(spark, "/nonexistent", store_name="x", join_side="left")
    with _pytest.raises(ValueError, match="join_side"):
        read_state_store(spark, "/nonexistent", join_side="up")

    # craft a collision: grouping column named 'count' meets the count
    # agg's buffer field also named 'count'
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    spark.createDataFrame([(1,), (1,), (2,)], "count LONG").coalesce(1).write.parquet(
        inp
    )
    stream = spark.readStream.schema("count LONG").parquet(inp)
    agg = stream.groupBy("count").agg(F.count(F.lit(1)).alias("n"))
    (
        agg.writeStream.foreachBatch(
            lambda b, _e: b.write.format("noop").mode("overwrite").save()
        )
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    with _pytest.raises(ValueError, match="collision"):
        read_state_store(spark, ckpt)


def test_stream_interval_join_left_semi(spark, tmp_path):
    """LEFT-SEMI interval join: clicks with at least one view in their
    window emit exactly once with the LEFT schema only (no right columns,
    no per-view duplication — user 4 has TWO matching views and still one
    output row); never-matched clicks never appear."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        stream_stream_interval_join,
    )

    lin, rin = str(tmp_path / "l"), str(tmp_path / "r")
    outp, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    hours = lambda h: F.timestamp_micros(F.lit(3_600_000_000) * h)  # noqa: E731
    clicks = spark.createDataFrame(
        [(u, u) for u in range(10)], "event_id long, user_id long"
    ).select("event_id", "user_id", hours(1000 + F.col("user_id")).alias("ts"))
    # views: even users 30 min before their click; user 4 twice (45 min
    # and 30 min before) to pin the no-duplication contract
    view_rows = [(100 + u, u, 30) for u in range(0, 10, 2)] + [(200, 4, 45)]
    views = spark.createDataFrame(
        view_rows, "event_id long, user_id long, mins_before long"
    ).select(
        "event_id",
        "user_id",
        F.timestamp_micros(
            F.lit(3_600_000_000) * (1000 + F.col("user_id"))
            - F.col("mins_before") * 60_000_000
        ).alias("ts"),
    )
    clicks.coalesce(1).write.parquet(lin)
    views.coalesce(1).write.parquet(rin)
    schema = "event_id long, user_id long, ts timestamp"

    j = stream_stream_interval_join(
        spark.readStream.schema(schema).parquet(lin),
        spark.readStream.schema(schema).parquet(rin),
        max_delay="1 hour",
        watermark="1 hour",
        how="left_semi",
    )
    assert j.columns == ["event_id", "user_id", "ts"]  # left schema only
    (
        j.writeStream.foreachBatch(lambda b, _e: b.write.mode("append").parquet(outp))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    out = spark.read.parquet(outp)
    assert out.count() == 5  # one row per matched click, user 4 NOT doubled
    assert {r["user_id"] for r in out.collect()} == {0, 2, 4, 6, 8}


def test_state_reader_join_side_reads_buffered_join_state(spark, tmp_path):
    """read_state_store(join_side=...) on a stream-stream join checkpoint:
    Spark keeps FOUR stores per side; joinSide unions them instead of the
    caller naming each. The left buffer must hold exactly the clicks not
    yet evictable at the final watermark, keyed as the join key."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        stream_stream_interval_join,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.state_reader import (
        read_state_metadata,
        read_state_store,
    )

    lin, rin = str(tmp_path / "l"), str(tmp_path / "r")
    outp, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    hours = lambda h: F.timestamp_micros(F.lit(3_600_000_000) * h)  # noqa: E731
    clicks = spark.createDataFrame(
        [(u, u) for u in range(6)], "event_id long, user_id long"
    ).select("event_id", "user_id", hours(1000 + F.col("user_id")).alias("ts"))
    views = spark.createDataFrame(
        [(100, 0)], "event_id long, user_id long"
    ).select("event_id", "user_id", hours(1000).alias("ts"))
    clicks.coalesce(1).write.parquet(lin)
    views.coalesce(1).write.parquet(rin)
    schema = "event_id long, user_id long, ts timestamp"
    def run_once() -> None:
        j = stream_stream_interval_join(
            spark.readStream.schema(schema).parquet(lin),
            spark.readStream.schema(schema).parquet(rin),
            max_delay="1 hour",
            watermark="1 hour",
        )
        (
            j.writeStream.foreachBatch(
                lambda b, _e: b.write.mode("append").parquet(outp)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_once()
    meta = read_state_metadata(spark, ckpt).collect()
    assert {m["operatorName"] for m in meta} == {"symmetricHashJoin"}

    def left_users() -> list[int]:
        st = read_state_store(spark, ckpt, join_side="left", flatten=False)
        return sorted(r["key"][0] for r in st.select("key").collect())

    # a batch's watermark only takes effect in the NEXT batch, so after
    # one drain NOTHING is evicted: the left buffer holds all six clicks
    assert left_users() == [0, 1, 2, 3, 4, 5]

    # sentinel generation far in the future advances the watermark past
    # every real row's eviction point; the next drain flushes the buffers
    sent = spark.createDataFrame(
        [(900, -1)], "event_id long, user_id long"
    ).select("event_id", "user_id", hours(5000).alias("ts"))
    sent.coalesce(1).write.mode("append").parquet(lin)
    sent.coalesce(1).write.mode("append").parquet(rin)
    run_once()
    # every real click evicted; only the sentinel remains buffered
    assert left_users() == [-1]
    right_state = read_state_store(spark, ckpt, join_side="right", flatten=False)
    assert sorted(r["key"][0] for r in right_state.select("key").collect()) == [-1]


def test_state_reader_reads_rocksdb_checkpoint(spark, tmp_path):
    """read_state_store must read a checkpoint COMMITTED under
    RocksDBStateStoreProvider — the provider a 100 TB stream actually
    runs — not just the default heap-backed store. The reader resolves
    the provider from the session conf, so the same conf that wrote the
    state reads it; values must equal the batch aggregate exactly."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.state_reader import (
        read_state_store,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(key, None)
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        spark.createDataFrame(
            [(i % 6, float(i)) for i in range(30)], "k LONG, v DOUBLE"
        ).coalesce(1).write.parquet(inp)
        _run_state_agg(spark, inp, ckpt)
        got = {
            r["k"]: (r["count"], r["sum"])
            for r in read_state_store(spark, ckpt).collect()
        }
        exp = {
            k: (5, float(sum(i for i in range(30) if i % 6 == k)))
            for k in range(6)
        }
        assert got == exp
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        if prev_provider is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev_provider)


def test_watermark_progress_observability(spark, tmp_path):
    """StreamingQuery.lastProgress surfaces the event-time watermark —
    the signal an operator (or an SRE dashboard) uses to know how far the
    stream has provably advanced. Pin: after draining a batch whose max
    event time is T, the reported watermark equals T - delay (truncated
    to the batch boundary contract: watermark applies NEXT batch, so the
    second drain reports the first batch's T - delay)."""

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    hours = lambda h: F.timestamp_micros(F.lit(3_600_000_000) * h)  # noqa: E731
    spark.createDataFrame([(1,)], "k long").select(
        "k", hours(100).alias("ts")
    ).coalesce(1).write.mode("append").parquet(inp)

    progresses = []

    def run_once() -> None:
        s = spark.readStream.schema("k long, ts timestamp").parquet(inp)
        agg = (
            s.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour"), "k")
            .count()
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda b, _e: b.write.format("noop").mode("overwrite").save()
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progresses.append(q.lastProgress)

    run_once()
    spark.createDataFrame([(2,)], "k long").select(
        "k", hours(200).alias("ts")
    ).coalesce(1).write.mode("append").parquet(inp)
    run_once()

    # each availableNow run's terminal batch advances the watermark to
    # its own max event time - delay, and lastProgress reports it:
    # run 1 ends at 100h - 2h = 98h, run 2 (resuming from the restored
    # 98h) ends at 200h - 2h = 198h
    wm0 = progresses[0]["eventTime"]["watermark"]
    wm1 = progresses[1]["eventTime"]["watermark"]
    assert wm0.startswith("1970-01-05T02:00:00"), progresses[0]["eventTime"]
    assert wm1.startswith("1970-01-09T06:00:00"), progresses[1]["eventTime"]
