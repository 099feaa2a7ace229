"""End-to-end tests: reference transform parity shapes + flagship pipeline +
partitioned write round-trip with dynamic partition overwrite (K1-K3)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fiap_machine_learning_tech_challenge_2_etl_spark.plans.pipeline import (
    flagship_events_pipeline,
    transform_v1,
    transform_v2,
)
from fiap_machine_learning_tech_challenge_2_etl_spark.schemas import B3_RAW_V1, B3_RAW_V2
from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import write_partitioned_parquet


def test_transform_v1_shape(spark):
    rows = [
        (1, "PETR4", "PETROBRAS", "PN", "1,0", 10, "100", "2024-01-01", 1),
        (1, "PETR4", "PETROBRAS", "PN", "2,0", 10, "200", "2024-01-02", 2),
        (1, "PETR4", "PETROBRAS", "PN", "3,0", 10, "300", "2024-01-03", 3),
        (1, "PETR4", "dup", "PN", "9,0", 10, "900", "2024-01-03", 4),
        (2, "VALE3", "VALE", "ON", "5,0", 20, "500", "2024-01-01", 5),
    ]
    df = spark.createDataFrame(rows, schema=B3_RAW_V1).withColumn(
        "ghost", F.lit(None).cast("double")
    )
    out = transform_v1(df, window_days=3)
    assert "ghost" not in out.columns
    got = {(r["code"], r["reference_date"]): r for r in out.collect()}
    assert len(got) == 4  # dup (PETR4, 01-03) collapsed, first kept
    assert got[("PETR4", "2024-01-03")]["ticker"] == "PETROBRAS"
    assert got[("PETR4", "2024-01-03")]["mean_part_3_days"] == 2.0
    assert got[("PETR4", "2024-01-03")]["median_part_3_days"] == 2.0
    assert got[("PETR4", "2024-01-03")]["max_part_3_days"] == 3.0
    assert got[("PETR4", "2024-01-01")]["initial_date"] == "2024-01-01"
    assert got[("VALE3", "2024-01-01")]["theoricalQty"] == 500


def test_transform_v2_shape(spark):
    rows = [
        ("ENERGY", "PETR4", "PETROBRAS", "PN", 1.0, 1.0, 100, "2024-01-01"),
        ("ENERGY", "PETR4", "PETROBRAS", "PN", 1.0, 1.0, 100, "2024-01-01"),  # dup
        ("ENERGY", "PETR4", "PETROBRAS", "PN", 2.0, 2.0, 300, "2024-01-02"),
        ("MINING", None, None, None, None, None, None, "2024-01-01"),
    ]
    df = spark.createDataFrame(rows, schema=B3_RAW_V2)
    out = transform_v2(df)
    rows_out = out.collect()
    assert len(rows_out) == 3  # exact duplicate dropped
    got = {(r["codigo_acao"], r["data_pregao"]): r for r in rows_out}
    assert got[("UNKNOWN", "2024-01-01")]["quantidade_teorica"] == 0
    assert got[("PETR4", "2024-01-02")]["media_movel_7d_qtde_teorica"] == 200.0
    assert got[("PETR4", "2024-01-01")]["total_qtde_teorica_setor_dia"] == 100
    assert "data_pregao_ts" not in out.columns


def test_flagship_smoke(spark, sf_dir):
    out = flagship_events_pipeline(spark, sf_dir)
    assert out.count() > 0
    cols = set(out.columns)
    assert {"user_id", "event_date", "mean_value_7d", "total_value_type_day"} <= cols


def test_dynamic_partition_overwrite_roundtrip(spark, tmp_path):
    """K3 — overwriting one partition must leave the others intact."""
    out = str(tmp_path / "t")
    df1 = spark.createDataFrame(
        [("a", "2024-01-01", 1.0), ("b", "2024-01-02", 2.0)], "k string, d string, v double"
    )
    write_partitioned_parquet(df1, out, partition_by=["d"])
    df2 = spark.createDataFrame([("c", "2024-01-02", 9.0)], "k string, d string, v double")
    write_partitioned_parquet(df2, out, partition_by=["d"])  # touches only 01-02
    back = spark.read.parquet(out)
    # partition values read back type-inferred (date); compare as strings
    got = sorted((r["k"], str(r["d"]), r["v"]) for r in back.collect())
    assert got == [("a", "2024-01-01", 1.0), ("c", "2024-01-02", 9.0)]
    assert os.path.isdir(os.path.join(out, "d=2024-01-01"))


def test_upsert_by_key_row_level_merge(spark, tmp_path):
    """upsert_by_key replaces matching keys, keeps other rows in touched
    partitions, and never rewrites untouched partitions."""
    import os

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import upsert_by_key

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0, "2024-01-01"), (2, "b", 20.0, "2024-01-01"),
         (3, "c", 30.0, "2024-01-02")],
        "id long, name string, v double, day string",
    )
    upsert_by_key(spark, base, path, keys=["id"], partition_by=["day"])
    day2_files = set(os.listdir(os.path.join(path, "day=2024-01-02")))

    batch = spark.createDataFrame(
        [(1, "a2", 11.0, "2024-01-01"), (4, "d", 40.0, "2024-01-01")],
        "id long, name string, v double, day string",
    )
    upsert_by_key(spark, batch, path, keys=["id"], partition_by=["day"])

    # partition-column type inference reads day= back as DATE; stringify
    got = {(r["id"], r["name"], r["v"], str(r["day"]))
           for r in spark.read.parquet(path).collect()}
    assert got == {
        (1, "a2", 11.0, "2024-01-01"),   # replaced
        (2, "b", 20.0, "2024-01-01"),    # survivor in touched partition
        (3, "c", 30.0, "2024-01-02"),    # untouched partition
        (4, "d", 40.0, "2024-01-01"),    # inserted
    }
    # untouched partition files identical -> was not rewritten
    assert set(os.listdir(os.path.join(path, "day=2024-01-02"))) == day2_files


def test_upsert_by_key_many_partitions_semi_join_path(spark, tmp_path):
    """Past _MAX_LITERAL_PARTITION_FILTER touched partitions the pruning
    probe switches from the literal OR-chain to a broadcast semi-join on
    the partition tuple; merge semantics must be identical (replace
    matching keys, keep survivors, keep untouched partitions)."""
    import os

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources import sinks

    assert sinks._MAX_LITERAL_PARTITION_FILTER >= 3
    path = str(tmp_path / "manyparts")
    n_days = sinks._MAX_LITERAL_PARTITION_FILTER + 20
    # two rows per day partition, plus one untouched partition
    base = spark.createDataFrame(
        [(d * 10 + i, float(d), f"d{d:04d}") for d in range(n_days) for i in range(2)]
        + [(999_999, -1.0, "untouched")],
        "id long, v double, day string",
    )
    sinks.upsert_by_key(spark, base, path, keys=["id"], partition_by=["day"])
    un_files = set(os.listdir(os.path.join(path, "day=untouched")))

    # touch EVERY d* partition: replace row id=d*10, insert id=d*10+5
    batch = spark.createDataFrame(
        [(d * 10, float(d) + 0.5, f"d{d:04d}") for d in range(n_days)]
        + [(d * 10 + 5, 50.0, f"d{d:04d}") for d in range(n_days)],
        "id long, v double, day string",
    )
    sinks.upsert_by_key(spark, batch, path, keys=["id"], partition_by=["day"])

    got = {(r["id"], r["v"], r["day"]) for r in spark.read.parquet(path).collect()}
    want = set()
    for d in range(n_days):
        want.add((d * 10, float(d) + 0.5, f"d{d:04d}"))      # replaced
        want.add((d * 10 + 1, float(d), f"d{d:04d}"))        # survivor
        want.add((d * 10 + 5, 50.0, f"d{d:04d}"))            # inserted
    want.add((999_999, -1.0, "untouched"))
    assert got == want
    assert set(os.listdir(os.path.join(path, "day=untouched"))) == un_files


@pytest.mark.parametrize("order_col", [None, "ver"], ids=["blind", "versioned"])
@pytest.mark.parametrize(
    "codes", [("007", "010"), ("2024-01-02", "2024-01-03")], ids=["zero_padded", "date_like"]
)
def test_upsert_by_key_keeps_string_partition_values(spark, tmp_path, order_col, codes):
    """String partition values that partition type inference would read
    back as an int ("007" -> 7) or a date keep their directory across
    upserts: the touched partitions are read back under the incoming
    rows' schema, so the rewrite neither opens a ``code=7`` directory nor
    leaves the old rows behind in ``code=007``."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import upsert_by_key

    a, b = codes
    path = str(tmp_path / "tbl")
    schema = "id long, ver long, v string, code string"
    kw = dict(keys=["id"], partition_by=["code"], order_col=order_col)

    def part_dirs():
        return sorted(d for d in os.listdir(path) if d.startswith("code="))

    upsert_by_key(
        spark,
        spark.createDataFrame([(1, 1, "old", a), (2, 1, "old", a), (3, 1, "old", b)], schema),
        path,
        **kw,
    )
    before = part_dirs()
    assert before == [f"code={a}", f"code={b}"]
    upsert_by_key(spark, spark.createDataFrame([(1, 2, "new", a)], schema), path, **kw)
    assert part_dirs() == before
    got = sorted(
        (r["id"], r["v"], r["code"])
        for r in spark.read.schema(schema).parquet(path).collect()
    )
    assert got == [(1, "new", a), (2, "old", a), (3, "old", b)]


def test_range_clustered_write_produces_disjoint_sorted_files(spark, tmp_path):
    """write_range_clustered yields one disjoint key range per file — the
    zone-map property that lets a point predicate prune to a single file."""
    import os

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import (
        write_range_clustered,
    )

    path = str(tmp_path / "clustered")
    df = spark.range(0, 10_000).select(
        (F.col("id") * 2654435761 % 10_000).alias("k"), F.col("id").alias("v")
    )
    write_range_clustered(df, path, cluster_by=["k"], n_files=8)

    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 8
    ranges = []
    for f in files:
        part = spark.read.parquet(os.path.join(path, f))
        row = part.agg(F.min("k").alias("lo"), F.max("k").alias("hi")).first()
        ranges.append((row["lo"], row["hi"]))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint (boundary duplicates may touch)
    # file-level pruning: a point read scans far fewer rows than the table
    assert spark.read.parquet(path).filter(F.col("k") == 4242).count() >= 1


def test_merge_schema_read_unifies_evolved_batches(spark, tmp_path):
    """Schema evolution: a later batch adds a column; mergeSchema reads the
    union schema with nulls for the old batch — the tolerant-read contract
    for corpora that grow metadata columns over time."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        path + "/b1"
    )
    spark.createDataFrame(
        [(2, "b", 0.9)], "id long, name string, quality double"
    ).write.parquet(path + "/b2")
    df = spark.read.option("mergeSchema", "true").parquet(path + "/b1", path + "/b2")
    assert set(df.columns) == {"id", "name", "quality"}
    got = {(r["id"], r["quality"]) for r in df.collect()}
    assert got == {(1, None), (2, 0.9)}


def test_analyze_table_feeds_cbo_stats(spark, tmp_path):
    """ANALYZE TABLE COMPUTE STATISTICS populates catalog row counts —
    the cost-based-optimizer input for join reordering at scale."""
    spark.sql("DROP TABLE IF EXISTS __stats_probe")
    spark.createDataFrame([(i,) for i in range(500)], "id long").write.saveAsTable(
        "__stats_probe"
    )
    spark.sql("ANALYZE TABLE __stats_probe COMPUTE STATISTICS")
    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql("DESCRIBE TABLE EXTENDED __stats_probe").collect()
    }
    assert "Statistics" in desc and "500 rows" in desc["Statistics"], desc
    spark.sql("DROP TABLE __stats_probe")


def test_runner_cli_batch_and_incremental(spark, sf_dir, tmp_path, monkeypatch):
    """O2-O6 through the CLI surface itself: argparse defaults, stage
    sequencing, and the unit-probing incremental drain all driven via
    main(argv) — the control-plane equivalent of the reference's
    Lambda/Step Function launch path (lambda/handler.py:13-49)."""
    import os
    import shutil

    from fiap_machine_learning_tech_challenge_2_etl_spark.plans import runner

    monkeypatch.setattr(runner, "get_session", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)  # shared fixture session

    out = str(tmp_path / "refined")
    runner.main(["batch", "--sf-dir", sf_dir, "--out", out])
    back = spark.read.parquet(out)
    assert back.count() > 0
    assert "event_date" in back.columns

    # --window-days must actually reach the pipeline (it was parsed but
    # dropped before r08): a 1-row window makes the rolling mean equal the
    # value itself on every row
    out1 = str(tmp_path / "refined_w1")
    runner.main(["batch", "--sf-dir", sf_dir, "--out", out1, "--window-days", "1"])
    w1 = spark.read.parquet(out1)
    assert (
        w1.filter(F.abs(F.col("mean_value_7d") - F.round("value", 6)) > 1e-6).count()
        == 0
    )
    assert w1.count() == back.count()

    src = str(tmp_path / "in")
    os.makedirs(src)
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(src, "e0.parquet")
    )
    out2 = str(tmp_path / "inc")
    ck = str(tmp_path / "ck")
    runner.main(
        ["incremental", "--input-dir", src, "--out", out2, "--checkpoint", ck]
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

    n_events = load_testdata(spark, sf_dir, ["events"])["events"].count()
    inc = spark.read.parquet(out2)
    assert inc.count() == n_events
    assert "event_date" in inc.columns
    # event_date must come from REAL 2024-range timestamps, not a
    # unit-confused 1970 read
    assert inc.select(F.min("event_date")).first()[0].year >= 2000


def test_read_parquet_dir_handles_all_three_layouts(spark, tmp_path):
    """S1 recursive scan parity with the reference's recurse=True: a
    nested NON-Hive layout (.../2024/01/*.parquet) must be read in full —
    Spark's default partition discovery silently skips plain nested dirs
    (0 rows under an explicit schema), so the reader probes one shallow
    listing and switches to recursiveFileLookup. Hive layouts must KEEP
    partition-column inference, and flat layouts are unaffected."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import read_parquet_dir

    df = spark.range(10).selectExpr("id", "id * 2 AS v")

    plain = str(tmp_path / "plain")
    df.filter("id < 5").write.parquet(os.path.join(plain, "2024", "01"))
    df.filter("id >= 5").write.parquet(os.path.join(plain, "2024", "02"))
    assert read_parquet_dir(spark, plain).count() == 10
    assert read_parquet_dir(spark, plain, schema=df.schema).count() == 10

    hive = str(tmp_path / "hive")
    df.selectExpr("id", "v", "id % 2 AS p").write.partitionBy("p").parquet(hive)
    back = read_parquet_dir(spark, hive)
    assert sorted(back.columns) == ["id", "p", "v"]  # partition col inferred
    assert back.count() == 10 and back.filter("p = 1").count() == 5

    flat = str(tmp_path / "flat")
    df.write.parquet(flat)
    assert read_parquet_dir(spark, flat).count() == 10


def test_read_parquet_dir_mixed_layout_raises(spark, tmp_path):
    """A root holding BOTH Hive-style and plain subdirectories has no
    correct single reader mode (partition discovery silently skips the
    plain dirs; recursiveFileLookup drops the partition columns) — the
    probe must fail loudly instead of silently choosing one."""
    import pytest

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import read_parquet_dir

    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    mixed = str(tmp_path / "mixed")
    df.filter("id < 5").write.parquet(os.path.join(mixed, "p=1"))
    df.filter("id >= 5").write.parquet(os.path.join(mixed, "2024"))
    with pytest.raises(ValueError, match="mixed partition layout"):
        read_parquet_dir(spark, mixed)


def test_read_parquet_dir_hive_layout_keeps_partition_pruning(spark, tmp_path):
    """Regression pin for the r08 layout probe: the Hive ``key=value``
    path must still go through partition DISCOVERY (not
    recursiveFileLookup), so a filter on the partition column prunes at
    plan time — if the probe ever misroutes Hive layouts to recursive
    lookup, partition-column pruning silently vanishes and every scan
    reads the whole table."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import read_parquet_dir

    hive = str(tmp_path / "hive_prune")
    spark.range(100).selectExpr("id", "id % 4 AS p").write.partitionBy(
        "p"
    ).parquet(hive)
    scan = read_parquet_dir(spark, hive).filter(F.col("p") == 1)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    # partition discovery puts the p=1 predicate in PartitionFilters on
    # the FileScan; under recursiveFileLookup 'p' wouldn't exist at all
    assert "PartitionFilters" in plan and "p" in plan
    import re

    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf is not None and pf.group(1).strip(), plan
    assert scan.count() == 25
    # and the plain layout goes the other way: no partition columns, all
    # rows via recursiveFileLookup (pinned in the three-layouts test)


def test_partitioned_writer_rejects_non_columnar_format(spark, tmp_path):
    """The fmt lever is parquet|orc only — the dynamic-overwrite +
    compression + pruning contract doesn't hold for text formats, which
    have their own explicit sinks in sources.text_formats."""
    import pytest

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import (
        write_partitioned_parquet,
    )

    df = spark.createDataFrame([(1, "a")], "id long, p string")
    with pytest.raises(ValueError, match="parquet.*orc"):
        write_partitioned_parquet(df, str(tmp_path / "x"), ["p"], fmt="csv")


def test_v2_stream_foreachbatch_per_file_micro_batches(spark, tmp_path):
    """Unit net for the flagship_v2_stream_foreachbatch oracle row (r14's
    one test-less addition): EP1's one-file-one-run fidelity as
    Structured Streaming. Pins (a) N landed files -> N micro-batches
    under maxFilesPerTrigger=1, (b) the coalescing guard fires when
    files DO share a batch, and (c) the per-file micro-batched
    transform_v2 equals batch transform_v2 run per file — fills
    included (NULL tipo -> UNKNOWN, missing date -> 1970-01-01)."""
    import glob as _glob

    rows_by_setor = {
        "ENERGY": [
            ("ENERGY", "PETR4", "PETROBRAS", "PN", 1.0, 1.0, 100, "2024-01-01"),
            ("ENERGY", "PETR4", "PETROBRAS", "PN", 2.0, 2.0, 300, "2024-01-02"),
            ("ENERGY", "ELET3", "ELETROBRAS", None, None, None, None, None),
        ],
        "MINING": [
            ("MINING", "VALE3", "VALE", "ON", 5.0, 5.0, 500, "2024-01-01"),
        ],
        "BANKS": [
            ("BANKS", "ITUB4", "ITAU", "PN", 3.0, 3.0, 200, "2024-01-01"),
            ("BANKS", "BBDC4", "BRADESCO", "PN", 4.0, 4.0, 250, "2024-01-01"),
        ],
    }
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for setor, rows in rows_by_setor.items():
        df = spark.createDataFrame(rows, schema=B3_RAW_V2).coalesce(1)
        staged = str(tmp_path / f"stage_{setor}")
        df.write.parquet(staged)
        (part,) = _glob.glob(os.path.join(staged, "*.parquet"))
        os.rename(part, os.path.join(landing, f"{setor}.parquet"))

    def run_stream(max_files: str | None, out: str, ck: str) -> list[int]:
        epochs: list[int] = []

        def sink(batch, epoch_id):
            if batch.isEmpty():
                return
            epochs.append(epoch_id)
            transform_v2(batch).write.mode("append").parquet(out)

        reader = spark.readStream.schema(B3_RAW_V2)
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", max_files)
        (
            reader.parquet(landing)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return epochs

    # (a) per-file micro-batching: 3 files -> 3 non-empty batches
    out1, ck1 = str(tmp_path / "out1"), str(tmp_path / "ck1")
    epochs = run_stream("1", out1, ck1)
    assert len(epochs) == len(rows_by_setor)
    # (b) without the option files coalesce -> the fidelity guard fires
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    epochs2 = run_stream(None, out2, ck2)
    assert len(epochs2) < len(rows_by_setor)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="micro-batch"):
        if len(epochs2) != len(rows_by_setor):
            raise ValueError(
                f"per-file trigger fidelity broken: {len(rows_by_setor)} "
                f"landed files ran as {len(epochs2)} micro-batches"
            )
    # (c) parity: per-file streaming == batch transform_v2 per file,
    # fills included
    got = sorted(
        tuple(r) for r in spark.read.parquet(out1).collect()
    )
    want = []
    for setor, rows in rows_by_setor.items():
        df = spark.createDataFrame(rows, schema=B3_RAW_V2)
        want.extend(tuple(r) for r in transform_v2(df).collect())
    assert got == sorted(want)
    filled = {
        (r["nome_acao"], r["tipo"], r["data_pregao"])
        for r in spark.read.parquet(out1).collect()
    }
    assert ("ELETROBRAS", "UNKNOWN", "1970-01-01") in filled


def test_no_module_level_name_defined_twice():
    """A second module-level ``def`` (or ``class``) of the same name
    silently shadows the first: the module attribute, tracebacks and any
    tool that resolves a function by ``__name__`` all see only the last
    one. No package module may repeat a top-level name."""
    import ast
    import collections
    import pathlib

    import fiap_machine_learning_tech_challenge_2_etl_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    repeated = {}
    for path in sorted(root.rglob("*.py")):
        names = collections.Counter(
            node.name
            for node in ast.parse(path.read_text()).body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        )
        dups = sorted(n for n, c in names.items() if c > 1)
        if dups:
            repeated[str(path.relative_to(root))] = dups
    assert repeated == {}
