"""Round-trip oracle queries for the I/O, catalog, and incremental surface.

SURVEY.md section 2 rows K1-K3, G1-G7, S2-S3, and O1/O6 were pytest-only in
round 1 (no ``queries()`` entry, so no driver-attested correctness row).
Each query here exercises one of those operators END TO END — write (or
register, or stream) through the operator under test, then read the result
back — and returns a DataFrame whose values a plain DuckDB query over the
SOURCE parquet reproduces exactly. That turns "the sink ran without error"
into "the bytes that came back are the bytes the semantics promise".

Reference behaviors attested:
- K2/K3 partitioned write + dynamic partition overwrite:
  etl/transform_1.py:108-115 (write.partitionBy overwrite) under
  etl/transform_1.py:40 (partitionOverwriteMode=dynamic).
- K1/row-level upsert: etl/etl.py:94-107 (Glue sink UPDATE_IN_DATABASE),
  done properly per-row instead of per-partition.
- G1-G7 catalog lifecycle: etl/extract.py:67-102 (db/table ensure),
  105-113 (partition listing), 128-132 (URI inference), 135-159
  (batched+retried registration), 182-183 (set-difference).
- S2 explicit-file-list scan: etl/etl.py:25-33 (per-landed-file read).
- S3 catalog-table scan: etl/transform_1.py:43-46 (from_catalog).
- O1/O6 file-arrival incrementality + bookmark: lambda/handler_last_date.py:23-42
  -> etl/etl.py:14-33, checkpoint replacing Glue job bookmarks.

Determinism rules: every aggregate over a double column sums INTEGER CENTS
(``CAST(round(x*100) AS BIGINT)``) so float summation order can't diverge
between engines, and every query rebuilds its scratch directory from
scratch (idempotent under driver re-runs). All scratch I/O stays inside the
repo (``_scratch/``, gitignored).

Scale notes (100 TB): the round-trip shapes ARE the scale patterns — the
upsert reads only touched partitions (partition-pruned scan + broadcast
anti-join); the catalog registration is metadata-only (no data scan); the
bucketed join carries no exchange because both tables pre-shuffled at write
time; the range-clustered readback prunes files via parquet min-max
footers; the streaming run processes each landed file exactly once.
"""

from __future__ import annotations

import os
import shutil
from glob import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fiap_machine_learning_tech_challenge_2_etl_spark.queries_catalog import (
    _FLAGSHIP_SQL,
    _register,
    _t,
)
from fiap_machine_learning_tech_challenge_2_etl_spark.sources.catalog import (
    add_partitions,
    ensure_database,
    ensure_external_table,
    infer_partition_from_uri,
    list_partitions,
)
from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import (
    read_parquet_dir,
    read_parquet_files,
    read_table,
)
from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import (
    upsert_by_key,
    write_zorder_clustered,
    write_bucketed_table,
    write_partitioned_parquet,
    write_range_clustered,
)
from fiap_machine_learning_tech_challenge_2_etl_spark.util import (
    local_relation_df,
)
from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
    materialized_rollup,
    run_incremental_pipeline,
)

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
_ORDERS_COLS_SQL = ", ".join(_ORDERS_COLS)


def _scratch(name: str, sf_dir: str) -> str:
    """Fresh per-(query, sf) scratch dir inside the repo — rebuilt on every
    call so the query is idempotent and never reads a stale previous run."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    d = os.path.join(_REPO_ROOT, "_scratch", f"{name}_{tag}")
    shutil.rmtree(d, ignore_errors=True)
    return d


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("long")


class _stream_shuffle:
    """Temporarily drop spark.sql.shuffle.partitions for a STATEFUL
    streaming round-trip and restore it on exit.

    The number of state-store instances is fixed from the shuffle-partition
    conf when the stream first starts; at 32 it costs 32 RocksDB/HDFS state
    dirs x (commit + snapshot) per micro-batch — pure fixed overhead for a
    bench-scale stream, and at production scale the right value is sized to
    the KEY CARDINALITY of the stream, not to the batch engine's shuffle
    width. Results are partitioning-invariant (keyed state, deterministic
    emissions), only the state fan-out changes. Default 4: measured
    min-of-2 at sf0.1, 8 -> 4 cut the tumbling-late-data roundtrip
    3.81 -> 3.01 s and the session-window roundtrip 2.71 -> 2.20 s (fewer
    state dirs to commit per micro-batch); values identical."""

    def __init__(self, spark: SparkSession, n: int = 4):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def _with_stream_shuffle(fn):
    """Decorator applying _stream_shuffle around a streaming round-trip
    query body (the terminal read-back aggregation of the returned frame
    executes later, under the caller's restored conf)."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        with _stream_shuffle(spark):
            return fn(spark, sf_dir)

    return wrapped


@_register(
    "sink_partition_overwrite_roundtrip",
    sql=f"""
SELECT {_ORDERS_COLS_SQL} FROM orders
WHERE o_orderkey % 20 = 0 AND o_orderstatus <> 'F'
UNION ALL
SELECT {_ORDERS_COLS_SQL} FROM orders
WHERE o_orderkey % 40 = 0 AND o_orderstatus = 'F'
""",
)
def q_sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/K3 — partitioned parquet write, then a second overwrite that
    touches ONLY the 'F' partition (dynamic partition overwrite, reference
    etl/transform_1.py:40,108-115). The readback must show the second
    write's rows in 'F' and the first write's rows everywhere else — the
    exact incremental-refresh contract. Overwrite mode is a writer-level
    option, so this holds on a vanilla session too."""
    o = _t(spark, sf_dir, "orders")
    d = _scratch("sink_overwrite", sf_dir)
    write_partitioned_parquet(
        o.filter(F.col("o_orderkey") % 20 == 0), d, ["o_orderstatus"]
    )
    write_partitioned_parquet(
        o.filter((F.col("o_orderkey") % 40 == 0) & (F.col("o_orderstatus") == "F")),
        d,
        ["o_orderstatus"],
    )
    return read_parquet_dir(spark, d).select(*_ORDERS_COLS)


@_register(
    "sink_upsert_merge_roundtrip",
    sql=f"""
WITH batch AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 30 = 0 OR o_orderkey % 10 = 5
)
SELECT {_ORDERS_COLS_SQL} FROM orders
WHERE o_orderkey % 10 = 0
  AND o_orderkey NOT IN (SELECT o_orderkey FROM batch)
UNION ALL
SELECT {_ORDERS_COLS_SQL} FROM batch
""",
)
def q_sink_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K3 — keyed MERGE into a partitioned parquet table (reference
    etl/etl.py:94-107's UPDATE_IN_DATABASE done at row granularity):
    updates replace matching keys, inserts land in their partitions,
    non-matching rows in touched partitions survive. The incoming batch
    both UPDATES keys already present (%30 rows, price doubled) and
    INSERTS new keys (%10=5 rows). Cost model: partition-pruned read of
    touched partitions + broadcast anti-join — O(batch), never O(table)."""
    o = _t(spark, sf_dir, "orders")
    d = _scratch("sink_upsert", sf_dir)
    write_partitioned_parquet(
        o.filter(F.col("o_orderkey") % 10 == 0), d, ["o_orderstatus"]
    )
    batch = o.filter(
        (F.col("o_orderkey") % 30 == 0) | (F.col("o_orderkey") % 10 == 5)
    ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
    upsert_by_key(
        spark, batch, d, keys=["o_orderkey"], partition_by=["o_orderstatus"]
    )
    return read_parquet_dir(spark, d).select(*_ORDERS_COLS)


@_register(
    "catalog_partition_registry",
    sql="""
SELECT o_orderstatus, o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
  (SELECT CAST(count(*) AS BIGINT) FROM
     (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders) d) AS n_parts
FROM orders
GROUP BY o_orderstatus, o_orderpriority
""",
)
def q_catalog_partition_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1-G7 + S3 — full catalog lifecycle: ensure database (G1,
    etl/extract.py:67-74), ensure external partitioned table (G2, :77-102),
    infer every partition spec from a file URI (G5, :128-132), register
    via set-difference + batched ALTER with retry (G6/G7, :135-159,182-183),
    list partitions back (G3, :105-113), then scan THROUGH the catalog
    table (S3, etl/transform_1.py:43-46) and aggregate. ``n_parts`` pins
    the registry count against the data's true partition count; the
    per-partition rows pin that the catalog scan resolves every registered
    partition to the right files. Registration is metadata-only — no data
    scan — which is why it stays O(partitions) at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    d = _scratch("catalog_registry", sf_dir)
    pcols = ["o_orderstatus", "o_orderpriority"]
    write_partitioned_parquet(o, d, pcols)
    db, tbl = "rt_catalog", "orders_by_prio"
    spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
    ensure_database(spark, db)
    ensure_external_table(spark, db, tbl, o.schema, pcols, d)
    # Partition specs come from LISTED FILE URIS (the reference's G5 path:
    # a landed file's key=value segments), not from collecting data-derived
    # values to the driver — listing is O(partitions + files) metadata work
    # and exercises infer_partition_from_uri on real writer-produced paths.
    listed = sorted(
        glob(os.path.join(d, "o_orderstatus=*", "o_orderpriority=*", "*.parquet"))
    )
    specs, seen = [], set()
    for uri in listed:
        spec = infer_partition_from_uri(uri, pcols)
        assert spec is not None
        key = tuple(sorted(spec.items()))
        if key not in seen:
            seen.add(key)
            specs.append(spec)
    add_partitions(spark, db, tbl, specs)
    n_parts = len(list_partitions(spark, db, tbl))
    t = read_table(spark, tbl, db)
    return (
        t.groupBy(*pcols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_cents("o_totalprice")).alias("sum_cents"),
        )
        .withColumn("n_parts", F.lit(n_parts).cast("long"))
    )


@_register(
    "runner_batch_roundtrip",
    sql="WITH f AS (" + _FLAGSHIP_SQL + """
)
SELECT event_date, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
  CAST(sum(CAST(round(median_value_7d * 100) AS BIGINT)) AS BIGINT)
    AS median_cents,
  CAST(sum(CAST(round(total_value_type_day * 100) AS BIGINT)) AS BIGINT)
    AS tot_cents
FROM f GROUP BY event_date
""",
)
def q_runner_batch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2-O5 — the CLI runner driven END TO END through its argparse
    surface (``runner.main(["batch", ...])`` with an injected session):
    the runner sequences the flagship transform + partitioned load in
    one process (the reference's Lambda/StepFn control plane flattened,
    infra/glue.tf:99-156), and what lands on disk must reproduce the
    flagship pipeline's values exactly — aggregated per written
    event_date partition in integer cents. Turns the last pytest-only
    control-plane surface into a driver-attested row."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.plans import runner

    d = _scratch("runner_batch", sf_dir)
    outp = os.path.join(d, "refined")
    runner.main(["batch", "--sf-dir", sf_dir, "--out", outp], spark=spark)
    back = read_parquet_dir(spark, outp)
    return back.groupBy(
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(_cents("value")).cast("long").alias("value_cents"),
        F.sum(_cents("median_value_7d")).cast("long").alias("median_cents"),
        F.sum(_cents("total_value_type_day")).cast("long").alias("tot_cents"),
    )


@_register(
    "jsonl_quarantine_roundtrip",
    sql="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
  CAST(3 AS BIGINT) AS n_rejects
FROM documents WHERE doc_id % 7 = 0
GROUP BY lang
""",
)
def q_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerant JSONL ingest round-trip (sources/text_formats.py):
    documents are exported to gzip JSON-lines (the LLM-corpus
    interchange format), THREE malformed lines are injected into the
    landing directory, and the permissive read + quarantine split must
    (a) recover every clean row byte-exactly — per-lang doc counts and
    char sums match the source — and (b) route exactly the injected
    lines to the reject frame, never aborting the job. The quarantine
    failure mode is the 100 TB contract: a bad file costs its rows, not
    the pipeline."""
    from pyspark.sql import types as TT

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.text_formats import (
        quarantine_corrupt,
        read_jsonl,
        write_jsonl,
    )

    d0 = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", "lang", "text"
    )
    d = _scratch("jsonl_quarantine", sf_dir)
    land = os.path.join(d, "landing")
    write_jsonl(d0, land)
    bad = local_relation_df(spark, 
        [("{not json",), ("definitely not a record",), ("}{",)], "value string"
    )
    bad.repartition(1).write.mode("append").text(land)
    schema = TT.StructType(
        [
            TT.StructField("doc_id", TT.LongType()),
            TT.StructField("lang", TT.StringType()),
            TT.StructField("text", TT.StringType()),
        ]
    )
    raw = read_jsonl(spark, land, schema)
    clean, rejects = quarantine_corrupt(raw)
    n_rejects = rejects.count()  # metadata-class driver scalar, like n_parts
    out = clean.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
    ).withColumn("n_rejects", F.lit(n_rejects).cast("long"))
    # Materialize the per-lang rollup (bounded by the lang-code domain)
    # before releasing quarantine_corrupt's cached scan, so the cached
    # batch doesn't linger in executor memory for the rest of the session.
    rows = out.collect()
    raw.unpersist()
    return local_relation_df(spark, rows, out.schema)


@_register(
    "msck_repair_discovery",
    sql="""
SELECT o_orderstatus, o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
  (SELECT CAST(count(*) AS BIGINT) FROM
     (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders) d) AS n_parts
FROM orders
GROUP BY o_orderstatus, o_orderpriority
""",
)
def q_msck_repair_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4 — partition discovery FROM STORAGE LAYOUT (the reference lists
    S3 keys against a regex, etl/extract.py:116-125; Spark-native form is
    MSCK REPAIR walking the table location): write the partitioned data,
    register the external table with ZERO partitions, then let
    repair_table discover every key=value directory — no per-partition
    ALTER statements, no URI parsing. ``n_parts`` pins that discovery
    found exactly the data's true partition count, and the catalog scan
    pins that every discovered partition resolves to the right files.
    The companion catalog_partition_registry query attests the
    incremental G5-G7 path (per-URI inference + batched ALTER); this one
    attests the full-rescan path used for backfills/recovery — both are
    metadata-only, O(partitions + files) listing work at any data
    scale."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.catalog import repair_table

    o = _t(spark, sf_dir, "orders")
    d = _scratch("msck_repair", sf_dir)
    pcols = ["o_orderstatus", "o_orderpriority"]
    write_partitioned_parquet(o, d, pcols)
    db, tbl = "rt_msck", "orders_msck"
    spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
    ensure_database(spark, db)
    ensure_external_table(spark, db, tbl, o.schema, pcols, d)
    assert len(list_partitions(spark, db, tbl)) == 0  # nothing registered yet
    repair_table(spark, db, tbl)
    n_parts = len(list_partitions(spark, db, tbl))
    t = read_table(spark, tbl, db)
    return (
        t.groupBy(*pcols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_cents("o_totalprice")).alias("sum_cents"),
        )
        .withColumn("n_parts", F.lit(n_parts).cast("long"))
    )


@_register(
    "file_list_scan",
    sql="""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders WHERE o_orderkey % 3 IN (0, 1)
GROUP BY o_orderstatus
""",
)
def q_file_list_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — explicit file-list scan, the incremental unit of processing
    (reference etl/etl.py:25-33 reads exactly the one newly-landed file the
    Lambda passes in). Three files are staged; exactly two are read back by
    path — the result must contain those two files' rows and nothing else.
    Reading only newly-landed files is the single biggest lever at 100 TB:
    work scales with the increment, not the table."""
    o = _t(spark, sf_dir, "orders")
    d = _scratch("file_list", sf_dir)
    for i in range(3):
        (
            o.filter(F.col("o_orderkey") % 3 == i)
            .repartition(1)
            .write.mode("overwrite")
            .parquet(os.path.join(d, f"b{i}"))
        )
    files = sorted(
        glob(os.path.join(d, "b0", "*.parquet"))
        + glob(os.path.join(d, "b1", "*.parquet"))
    )
    back = read_parquet_files(spark, files)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_cents("o_totalprice")).alias("sum_cents"),
    )


@_register(
    "bucketed_join_colocated",
    sql="""
SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def q_bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table write + co-located join: both tables hash-clustered
    into the same bucket count on the join key at WRITE time, so the join
    reads matching bucket files pairwise with no exchange (plan shape
    pinned in tests/test_plans.py). This is the amortize-the-shuffle-once
    primitive for repeated fact-fact joins at 100 TB — the reference's
    catalog sink (etl/etl.py:94-107) has no layout control at all; this is
    the extension surface. Values must match the same join straight off
    the source parquet."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    d = _scratch("bucketed_join", sf_dir)
    for tname in ("rt_orders_bkt", "rt_customer_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
    write_bucketed_table(
        o, "rt_orders_bkt", ["o_custkey"], 8,
        sort_by=["o_custkey"], path=os.path.join(d, "orders"),
    )
    write_bucketed_table(
        c, "rt_customer_bkt", ["c_custkey"], 8,
        sort_by=["c_custkey"], path=os.path.join(d, "customer"),
    )
    t_o = read_table(spark, "rt_orders_bkt")
    t_c = read_table(spark, "rt_customer_bkt")
    return (
        t_o.join(t_c, t_o["o_custkey"] == t_c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents("o_totalprice")).alias("sum_cents"),
        )
    )


@_register(
    "range_clustered_pruned_scan",
    sql="""
SELECT CAST(l_shipdate AS DATE) AS ship_day,
  CAST(count(*) AS BIGINT) AS n_items,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_shipdate < TIMESTAMP '1995-07-01'
GROUP BY CAST(l_shipdate AS DATE)
""",
)
def q_range_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered layout write + pruned readback: repartitionByRange
    on l_shipdate gives each output file a DISJOINT sorted key range, so
    the date-range filter on readback prunes to the few files whose
    parquet min-max footers overlap — read amplification O(selectivity),
    not O(files). The reference's only layout is directory partitioning
    (SURVEY.md section 2.2); this is the zone-map extension. The filtered
    aggregate must match the same filter straight off the source."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    d = _scratch("range_clustered", sf_dir)
    write_range_clustered(li, d, ["l_shipdate"], 16)
    back = spark.read.parquet(d).filter(
        (F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    return back.groupBy(F.to_date("l_shipdate").alias("ship_day")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_cents("l_extendedprice")).alias("sum_cents"),
    )


@_register(
    "zorder_clustered_pruned_scan",
    sql="""
SELECT l_returnflag,
  CAST(count(*) AS BIGINT) AS n_items,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM lineitem
WHERE l_partkey BETWEEN 100 AND 400 AND l_suppkey BETWEEN 10 AND 60
GROUP BY l_returnflag
""",
)
def q_zorder_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered layout write + 2-D box readback: Morton-interleaved
    (l_partkey, l_suppkey) clustering keeps parquet min-max footers tight on
    BOTH columns at once, so a two-dimensional box predicate prunes files —
    the multi-column generalization of range_clustered_pruned_scan (a
    lexicographic sort prunes only on its lead column). Footer disjointness
    and actual file pruning are pinned in tests/test_roundtrip_queries.py;
    here the box-filtered aggregate must match the same filter straight
    off the source — the layout is lossless."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag", "l_extendedprice"
    )
    d = _scratch("zorder_clustered", sf_dir)
    write_zorder_clustered(li, d, ["l_partkey", "l_suppkey"], 16)
    back = spark.read.parquet(d).filter(
        F.col("l_partkey").between(100, 400) & F.col("l_suppkey").between(10, 60)
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_cents("l_extendedprice")).alias("sum_cents"),
    )


@_register(
    "incremental_stream_roundtrip",
    sql="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
WHERE event_type IN ('click', 'view', 'purchase') AND event_id % 2 = 0
GROUP BY event_type
""",
)
@_with_stream_shuffle
def q_incremental_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O6 — file-arrival incremental pipeline with bookmark semantics:
    two files land, one availableNow run drains them; a third file lands,
    a SECOND run with the same checkpoint processes ONLY the new file
    (exactly-once per file — the reference's Glue job-bookmark contract,
    etl/etl.py:18-19,110, triggered per landed file by
    lambda/handler_last_date.py:23-42). Each staged file holds one
    event_type = one output partition, so the second run's dynamic
    partition overwrite can't clobber the first run's output. The final
    readback must equal the batch transform over all three files — any
    dropped or double-processed file changes counts/sums."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    d = _scratch("incremental_stream", sf_dir)
    inp = os.path.join(d, "in")
    outp = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def stage(event_type: str) -> None:
        (
            e.filter(F.col("event_type") == event_type)
            .repartition(1)
            .write.mode("append")
            .parquet(inp)
        )

    def transform(df: DataFrame) -> DataFrame:
        return df.filter(F.col("event_id") % 2 == 0)

    stage("click")
    stage("view")
    run_incremental_pipeline(
        spark, inp, schema, transform, outp, ckpt, ["event_type"]
    )
    stage("purchase")
    run_incremental_pipeline(
        spark, inp, schema, transform, outp, ckpt, ["event_type"]
    )
    back = spark.read.parquet(outp)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_cents("value")).alias("sum_cents"),
    )


@_register(
    "materialized_rollup_roundtrip",
    sql="""
SELECT CAST(ts AS DATE) AS day, event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
""",
)
@_with_stream_shuffle
def q_materialized_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained daily rollup (continuous-aggregate /
    hypertable-rollup pattern, streaming/incremental.py
    materialized_rollup): events land as files, each availableNow run
    recomputes ONLY the day partitions the new files touch and
    dynamic-partition-overwrites them.

    Three files partition the events by day-of-month: run 1 drains the
    dom<=10 and 11..20 files (day 15 deliberately MISSING its odd
    event_ids, so its run-1 rollup row is WRONG by construction); run 2 —
    same checkpoint, so only the third file is read (O6 bookmark) — lands
    dom>=21 plus day-15's late rows, and its refresh must (a) recompute
    day 15 exactly from the full base (recompute-touched-partitions, not
    merge — the late-data correctness contract), (b) create the dom>=21
    partitions, and (c) leave every untouched day partition intact under
    dynamic overwrite. The readback therefore equals the plain daily
    rollup over ALL events — any merge-instead-of-recompute, clobbered
    partition, or re-processed file changes counts/sums. Values sum
    integer cents (staged as a long column) so both engines fold exactly.
    The refresh's base re-read is footer-prunable via the raw-ts range
    predicate (touched_days_rollup, plan-pinned in tests/test_plans.py)."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "event_type",
            "ts",
            _cents("value").alias("value_cents"),
        )
    )
    d = _scratch("materialized_rollup", sf_dir)
    inp = os.path.join(d, "in")
    rollup = os.path.join(d, "rollup")
    ckpt = os.path.join(d, "ckpt")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value_cents", T.LongType()),
        ]
    )
    dom = F.dayofmonth("ts")
    late_day15 = (dom == 15) & (F.col("event_id") % 2 == 1)
    stages = [
        dom <= 10,
        (dom.between(11, 20)) & ~late_day15,
        (dom >= 21) | late_day15,
    ]
    for cond in stages[:2]:
        e.filter(cond).repartition(1).write.mode("append").parquet(inp)
    run = lambda: materialized_rollup(  # noqa: E731
        spark, inp, schema, rollup, ckpt, ts_col="ts",
        key_col="event_type", value_col="value_cents",
    )
    run()
    e.filter(stages[2]).repartition(1).write.mode("append").parquet(inp)
    run()
    back = spark.read.parquet(rollup)
    return back.select(
        "day",
        "event_type",
        "n_events",
        F.col("sum_value").alias("sum_cents"),
    )


@_register(
    "stream_upsert_cdc_roundtrip",
    sql=f"""
SELECT o_orderkey, o_custkey, o_orderstatus,
  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice * 3 ELSE o_totalprice END
    AS o_totalprice,
  o_orderdate, o_orderpriority,
  CASE WHEN o_orderkey % 20 = 0 THEN 2 ELSE 1 END AS ver
FROM orders WHERE o_orderkey % 10 = 0
""",
)
@_with_stream_shuffle
def q_stream_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC MERGE (streaming/incremental.py stream_upsert_by_key):
    version-1 rows land and are upserted; a second file redelivers HALF the
    keys at version 2 (price tripled) and a second availableNow run — same
    checkpoint, so only the new file is read (O6 bookmark) — row-level
    upserts them. Final table must hold exactly one row per key at the
    highest delivered version: the exactly-once-per-key-version contract
    (reference gestures at this with UPDATE_IN_DATABASE, etl/etl.py:94-107,
    at partition granularity only)."""
    o = _t(spark, sf_dir, "orders")
    d = _scratch("stream_cdc", sf_dir)
    inp = os.path.join(d, "in")
    outp = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import stream_upsert_by_key

    v1 = o.filter(F.col("o_orderkey") % 10 == 0).withColumn("ver", F.lit(1))
    v2 = (
        o.filter(F.col("o_orderkey") % 20 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
        .withColumn("ver", F.lit(2))
    )
    schema = v1.schema
    kwargs = dict(
        schema=schema,
        output_path=outp,
        checkpoint_dir=ckpt,
        keys=["o_orderkey"],
        partition_by=["o_orderstatus"],
        dedup_order="ver",
    )
    v1.repartition(1).write.mode("append").parquet(inp)
    stream_upsert_by_key(spark, inp, **kwargs)
    v2.repartition(1).write.mode("append").parquet(inp)
    stream_upsert_by_key(spark, inp, **kwargs)
    back = read_parquet_dir(spark, d + "/out")
    return back.select(*_ORDERS_COLS, F.col("ver").cast("int").alias("ver"))


@_register(
    "stream_dedup_roundtrip",
    sql="""
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
FROM events WHERE user_id % 5 = 0
""",
)
@_with_stream_shuffle
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (streaming/incremental.py
    stream_dedup_events, dropDuplicatesWithinWatermark): the same file is
    delivered TWICE — the at-least-once redelivery failure mode — and the
    watermark-bounded dedup state must emit each key exactly once. Output must
    equal the source rows exactly: one survivor per event_id, field-for-field
    (duplicates are identical, so the result is order-independent)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import stream_dedup_events

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    d = _scratch("stream_dedup", sf_dir)
    inp = os.path.join(d, "in")
    outp = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    # deliver the same rows twice (two identical files, one micro-batch)
    e.repartition(1).write.mode("append").parquet(inp)
    e.repartition(1).write.mode("append").parquet(inp)
    schema = e.schema
    stream = spark.readStream.schema(schema).parquet(inp)
    deduped = stream_dedup_events(stream, keys=["event_id"], ts_col="ts")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(outp)

    (
        deduped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.schema(schema).parquet(outp)


@_register(
    "stream_dedup_windowed_chain_roundtrip",
    sql="""
SELECT CAST(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
    AS window_start,
  event_type, CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
WHERE user_id % 7 = 0
GROUP BY 1, 2
""",
)
@_with_stream_shuffle
def q_stream_dedup_windowed_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming operators in ONE query
    (streaming/incremental.py dedup_then_windowed_counts, Spark 4
    multi-stateful support): at-least-once redelivery (every input file
    delivered TWICE) -> watermarked dropDuplicatesWithinWatermark ->
    tumbling hourly aggregate, one checkpoint, one watermark lineage.
    The oracle is the batch rollup of the UNDUPLICATED feed — equality
    proves the dedup state absorbed the redelivery BEFORE the aggregate
    state counted it (a lost or double-counted row shifts n_events or
    sum_cents somewhere). Run 2 delivers one far-future sentinel over
    the same checkpoint to advance the watermark past every real window
    so append mode flushes them; the sentinel's own window provably
    cannot emit. The two stateful stages shuffle on different keys
    (event_id, then window+event_type) exactly as they would at 100 TB —
    fusing them into one query removes the intermediate sink a
    pre-Spark-3.5 pipeline needed."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        dedup_then_windowed_counts,
    )

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0).select(
        "event_id", "ts", "event_type", "value"
    )
    d = _scratch("stream_dedup_chain", sf_dir)
    inp = os.path.join(d, "in")
    outp = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    schema = e.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(inp)
        agg = dedup_then_windowed_counts(stream, window="1 hour", watermark="10 minutes")

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.write.mode("append").parquet(outp)

        (
            agg.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # at-least-once redelivery: the same rows land twice
    e.repartition(1).write.mode("append").parquet(inp)
    e.repartition(1).write.mode("append").parquet(inp)
    run_once()
    # sentinel 2 days past corpus end: advances the GLOBAL watermark past
    # every real window's end so the append-mode tail flushes; its own
    # window cannot emit (the watermark stops 10 min short of it)
    sentinel = e.agg((F.max("ts") + F.expr("INTERVAL 2 DAYS")).alias("ts")).select(
        F.lit(-1).cast("long").alias("event_id"),
        "ts",
        F.lit("zz").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    sentinel.repartition(1).write.mode("append").parquet(inp)
    run_once()
    back = read_parquet_dir(spark, outp)
    return back.select(
        "window_start",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("sum_value") * 100).cast("long").alias("sum_cents"),
    )


@_register(
    "stream_session_window_roundtrip",
    sql="""
WITH src AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE user_id % 6 = 0
), s AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM src
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT user_id, ts, value,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT min(ts) AS session_start,
  max(ts) + INTERVAL 30 MINUTE AS session_end,
  user_id, CAST(count(*) AS BIGINT) AS n_events,
  CAST(round(sum(value) * 100) AS BIGINT) AS sum_cents
FROM g GROUP BY user_id, sid
""",
)
@_with_stream_shuffle
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming SESSION windows (streaming/incremental.py
    sessionized_counts, Spark-native session_window) attested against the
    batch gaps-and-islands oracle: gap-merged sessions are the same
    mathematical object whether computed by streaming state or by a batch
    lag+cumsum, so the emitted (start, end=last+gap, n, sum) rows must
    match exactly.

    The roundtrip exercises the APPEND-MODE TAIL: after run 1 delivers
    all real events, every user's final session is still open in state
    (the watermark can't prove it over). Run 2 delivers one far-future
    sentinel event per user over the SAME checkpoint, advancing the
    watermark past every real session end — the held sessions flush.
    That is the production pattern for draining session state in
    file-replay pipelines; the sentinels' own sessions stay unemitted in
    state and are excluded by construction (nothing is filtered from the
    output)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        sessionized_counts,
    )

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 6 == 0).select(
        "event_id", "ts", "user_id", "value"
    )
    d = _scratch("stream_session", sf_dir)
    inp = os.path.join(d, "in")
    outp = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    schema = e.schema

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(inp)
        sess = sessionized_counts(stream, gap="30 minutes", watermark="10 minutes")

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.write.mode("append").parquet(outp)

        (
            sess.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    e.repartition(1).write.mode("append").parquet(inp)
    run_once()
    # ONE sentinel row, 2 days past the corpus end: the watermark is
    # GLOBAL (max event time minus delay), so a single future event
    # advances it past every real session's end and run 2 flushes them
    # all — while the sentinel's own session (ending 30 min after the
    # new watermark base) provably cannot emit, so nothing needs to be
    # filtered from the output.
    sentinel = e.agg((F.max("ts") + F.expr("INTERVAL 2 DAYS")).alias("ts")).select(
        F.lit(-1).cast("long").alias("event_id"),
        "ts",
        F.lit(0).cast("long").alias("user_id"),
        F.lit(0.0).alias("value"),
    )
    sentinel.repartition(1).write.mode("append").parquet(inp)
    run_once()
    back = read_parquet_dir(spark, outp)
    return back.select(
        "session_start",
        "session_end",
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("sum_value") * 100).cast("long").alias("sum_cents"),
    )


@_register(
    "stream_tumbling_late_data_roundtrip",
    sql="""
SELECT CAST(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
    AS window_start,
  event_type, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
WHERE user_id % 4 = 0
  AND day(CAST(ts AS TIMESTAMP)) >= 6  -- the late-delivered rows are DROPPED
GROUP BY 1, 2
""",
)
@_with_stream_shuffle
def q_stream_tumbling_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked TUMBLING-window aggregation (streaming/incremental.py
    windowed_event_counts) with the late-data contract attested end to
    end: run 1 delivers days >= 6 (the checkpoint then holds watermark =
    max ts - 10 min); run 2 delivers days 1-5 — all of it further past
    the watermark than the 10-minute lateness bound, so the engine MUST
    drop every row (their windows were finalized and evicted); run 3
    delivers one far-future sentinel to flush the held tail windows.
    The oracle counts ONLY the on-time rows — if late data leaked into
    any window, counts and cents diverge. This is the semantics a
    100 TB file-replay pipeline depends on: bounded state via eviction,
    deterministic exclusion of too-late arrivals."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        windowed_event_counts,
    )

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 4 == 0).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    d = _scratch("stream_tumbling_late", sf_dir)
    inp = os.path.join(d, "in")
    outp = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    schema = e.schema
    day = F.dayofmonth(F.col("ts").cast("timestamp"))

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(inp)
        agg = windowed_event_counts(stream, window="1 hour", watermark="10 minutes")

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.write.mode("append").parquet(outp)

        (
            agg.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    e.filter(day >= 6).repartition(1).write.mode("append").parquet(inp)
    run_once()
    e.filter(day <= 5).repartition(1).write.mode("append").parquet(inp)  # late
    run_once()
    sentinel = e.agg((F.max("ts") + F.expr("INTERVAL 2 DAYS")).alias("ts")).select(
        F.lit(-1).cast("long").alias("event_id"),
        "ts",
        F.lit(0).cast("long").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    sentinel.repartition(1).write.mode("append").parquet(inp)
    run_once()
    back = read_parquet_dir(spark, outp)
    return back.select(
        "window_start",
        "event_type",
        F.col("n_events").cast("long").alias("n"),
        F.round(F.col("sum_value") * 100).cast("long").alias("sum_cents"),
    )


@_register(
    "stream_running_stats_roundtrip",
    sql="""
SELECT user_id,
  CAST(count(DISTINCT event_id % 2) AS BIGINT) AS n_emissions,
  CAST(count(*) AS BIGINT) AS final_n,
  CAST(round(sum(value) * 100) AS BIGINT) AS final_total_cents
FROM events WHERE user_id % 7 = 0
GROUP BY user_id
""",
)
@_with_stream_shuffle
def q_stream_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (streaming/incremental.py
    running_user_stats, applyInPandasWithState): per-user running
    (count, sum) must SURVIVE across micro-batches. Events are delivered
    in two runs over one checkpoint (even event_ids, then odd); every
    run emits the user's running totals, so the LAST emission per user
    (the one with the highest running_n) must equal the whole-corpus
    aggregate, and the number of emissions equals the number of batches
    the user appeared in. This is the operator class the built-ins can't
    express (custom decay / model state); state is per-key O(1)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import running_user_stats

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0).select(
        "event_id", "user_id", "value"
    )
    d = _scratch("stream_running", sf_dir)
    inp = os.path.join(d, "in")
    outp = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(inp)
        stats = running_user_stats(stream)

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.write.mode("append").parquet(outp)

        (
            stats.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    e.filter(F.col("event_id") % 2 == 0).repartition(1).write.mode("append").parquet(inp)
    run_once()
    e.filter(F.col("event_id") % 2 == 1).repartition(1).write.mode("append").parquet(inp)
    run_once()
    back = spark.read.parquet(outp)
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_emissions"),
        F.max("running_n").alias("final_n"),
        F.round(F.max_by("running_total", "running_n") * 100)
        .cast("long")
        .alias("final_total_cents"),
    )


@_register(
    "stream_interval_join_roundtrip",
    sql="""
SELECT l.event_id AS click_id, r.event_id AS view_id, l.user_id,
  epoch_us(CAST(l.ts AS TIMESTAMP)) - epoch_us(CAST(r.ts AS TIMESTAMP)) AS gap_us
FROM events l JOIN events r ON l.user_id = r.user_id
WHERE l.event_type = 'click' AND r.event_type = 'view'
  AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP)
  AND CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP) - INTERVAL 6 HOUR
""",
)
@_with_stream_shuffle
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (streaming/incremental.py
    stream_stream_interval_join): every click joined to the views the
    same user made in the preceding 6 hours. Both sides are real file
    streams; the watermark + two-sided time bound let Spark age out
    buffered state (O(keys x window), not O(stream)). The emitted match
    set must equal the batch theta-join over the same rows."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        stream_stream_interval_join,
    )

    e = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    d = _scratch("stream_ivjoin", sf_dir)
    lin = os.path.join(d, "l")
    rin = os.path.join(d, "r")
    outp = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    e.filter(F.col("event_type") == "click").repartition(1).write.parquet(lin)
    e.filter(F.col("event_type") == "view").repartition(1).write.parquet(rin)
    schema = spark.read.parquet(lin).schema
    left = spark.readStream.schema(schema).parquet(lin)
    right = spark.readStream.schema(schema).parquet(rin)
    joined = stream_stream_interval_join(
        left, right, key="user_id", max_delay="6 hours", watermark="12 hours"
    ).select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_r").alias("view_id"),
        F.col("user_id"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_r"))).alias("gap_us"),
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(outp)

    (
        joined.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(outp)


@_register(
    "stream_interval_join_outer_roundtrip",
    sql="""
SELECT l.event_id AS click_id, r.event_id AS view_id, l.user_id,
  epoch_us(CAST(l.ts AS TIMESTAMP)) - epoch_us(CAST(r.ts AS TIMESTAMP)) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'click') l
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id
  AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP)
  AND CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP) - INTERVAL 6 HOUR
""",
)
@_with_stream_shuffle
def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER watermarked stream-stream interval join
    (streaming/incremental.py stream_stream_interval_join how='left_outer'):
    clicks joined to the same user's views in the preceding 6 hours, and
    clicks with NO such view emitted NULL-padded — the semantically hard
    half of late-data enrichment, because an unmatched left row may only
    be declared unmatched once the watermark proves no future right row
    can still match it (state eviction at left.ts + max_delay).

    The stream therefore needs its watermark PUSHED past every real row's
    eviction point before it stops: two sentinel generations (user_id -1,
    max_ts + 2 and + 4 days, appended to BOTH sides so they cannot alter
    real matches) run through two extra availableNow passes — the first
    advances the watermark, the second's batch performs the eviction that
    emits the NULL rows. Exactly-once per unmatched click is the state
    store's contract, and the value-hash against the batch LEFT JOIN
    oracle would catch any duplicate or dropped emission."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        drain_interval_join_with_sentinel_flush,
        stream_stream_interval_join,
    )

    e = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    d = _scratch("stream_ivjoin_outer", sf_dir)
    lin = os.path.join(d, "l")
    rin = os.path.join(d, "r")
    outp = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    e.filter(F.col("event_type") == "click").repartition(1).write.parquet(lin)
    e.filter(F.col("event_type") == "view").repartition(1).write.parquet(rin)
    max_ts = e.agg(F.max("ts")).collect()[0][0]  # one scalar, not data
    schema = spark.read.parquet(lin).schema

    def build_join(left: DataFrame, right: DataFrame) -> DataFrame:
        return stream_stream_interval_join(
            left,
            right,
            key="user_id",
            max_delay="6 hours",
            watermark="12 hours",
            how="left_outer",
        ).select(
            F.col("event_id").alias("click_id"),
            F.col("event_id_r").alias("view_id"),
            F.col("user_id"),
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_r"))).alias(
                "gap_us"
            ),
        )

    drain_interval_join_with_sentinel_flush(
        spark, lin, rin, outp, ckpt, schema, max_ts, build_join
    )
    # eqNullSafe: NULL-user clicks are real unmatched rows, keep them
    return spark.read.parquet(outp).filter(~F.col("user_id").eqNullSafe(-1))


@_register(
    "compaction_roundtrip",
    sql="""
SELECT CAST(48 AS BIGINT) AS files_before,
  CAST(ceil(count(*) / 4000.0) AS BIGINT) AS files_after,
  count(*) AS n_rows,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT)
           % 1000000007) AS BIGINT) AS text_checksum
FROM documents
""",
)
def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip: land ``documents`` as 48 sliver
    files (the incremental-sink failure mode), compact to
    ceil(rows/4000) evenly-sized files via ``compact_parquet_dir``, then
    prove from the READBACK that (a) the file count collapsed to exactly
    the size-targeted number and (b) not one row was lost or altered
    (count + n_chars sum + md5-derived content checksum). The maintenance
    op every long-lived partitioned sink (reference etl/etl.py:94-107
    writes per-incremental-batch) eventually requires."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import compact_parquet_dir

    docs = _t(spark, sf_dir, "documents")
    d = _scratch("compaction", sf_dir)
    docs.repartition(48).write.parquet(d)
    files_before = len(glob(os.path.join(d, "part-*.parquet")))
    compact_parquet_dir(spark, d, target_rows_per_file=4000)
    files_after = len(glob(os.path.join(d, "part-*.parquet")))
    rb = spark.read.parquet(d)
    h60 = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    return rb.agg(
        F.lit(files_before).cast("long").alias("files_before"),
        F.lit(files_after).cast("long").alias("files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(h60 % 1000000007).alias("text_checksum"),
    )


@_register(
    "stream_static_enrich_roundtrip",
    sql="""
SELECT e.event_id, e.user_id, e.event_type,
  c.c_mktsegment, c.c_nationkey,
  CAST(round(e.value * 100) AS BIGINT) AS value_cents
FROM events e JOIN customer c ON c.c_custkey = e.user_id
WHERE e.user_id % 3 = 0 AND e.user_id IS NOT NULL
""",
)
@_with_stream_shuffle
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC broadcast enrichment round-trip: stream a slice of
    events from files, join every micro-batch against the static customer
    dimension (stream_enrich_with_dim — re-planned and re-broadcast per
    batch, the slowly-changing-dimension pickup pattern), and prove the
    enriched output equals the plain batch join row-for-row. State-free
    and append-safe: no watermark needed for a stream-static join."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.incremental import (
        stream_enrich_with_dim,
    )

    e = _t(spark, sf_dir, "events").filter(
        (F.col("user_id") % 3 == 0) & F.col("user_id").isNotNull()
    ).select("event_id", "ts", "user_id", "event_type", "value")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    d = _scratch("stream_enrich", sf_dir)
    inp = os.path.join(d, "in")
    outp = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")
    # two files -> at least two micro-batches under availableNow's
    # per-file planning; each batch must re-broadcast the dim
    e.filter(F.col("event_id") % 2 == 0).repartition(1).write.mode("append").parquet(inp)
    e.filter(F.col("event_id") % 2 == 1).repartition(1).write.mode("append").parquet(inp)
    schema = e.schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inp)
    enriched = stream_enrich_with_dim(
        stream, cust, on=[F.col("user_id") == F.col("c_custkey")], how="inner"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "c_mktsegment",
        "c_nationkey",
        _cents("value").alias("value_cents"),
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(outp)

    (
        enriched.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(outp)


@_register(
    "csv_quarantine_roundtrip",
    sql="""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
  CAST(3 AS BIGINT) AS n_rejects
FROM orders WHERE o_orderkey % 7 = 1
GROUP BY o_orderstatus
""",
)
def q_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerant CSV ingest round-trip (sources/text_formats.py
    read_csv/write_csv), the CSV twin of ``jsonl_quarantine_roundtrip``:
    a gzip CSV landing zone (headerless — a header line per file is a
    per-file parsing special case a million-file zone can't afford) with
    THREE malformed lines injected (long-column type failures and a
    token-count overflow); the PERMISSIVE read + quarantine split must
    (a) recover every clean row exactly — per-status counts and integer
    cents match the parquet source (double -> text -> double is
    round-trip-exact under Spark's CSV writer) — and (b) route exactly
    the injected lines to the reject frame without aborting the job.
    (The reference is parquet-only; this is extension surface §2.13.)"""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.text_formats import (
        quarantine_corrupt,
        read_csv,
        write_csv,
    )

    src = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    d = _scratch("csv_quarantine", sf_dir)
    land = os.path.join(d, "landing")
    write_csv(src, land, header=False)
    bad = local_relation_df(spark, 
        [("x,y,z",), ("not-a-key,O,12.5",), ("9,O,1.0,too,many,fields",)],
        "value string",
    )
    bad.repartition(1).write.mode("append").text(land)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    raw = read_csv(spark, land, schema, header=False)
    clean, rejects = quarantine_corrupt(raw)
    n_rejects = rejects.count()  # metadata-class driver scalar, like n_parts
    out = clean.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(_cents("o_totalprice")).alias("sum_cents"),
    ).withColumn("n_rejects", F.lit(n_rejects).cast("long"))
    # Materialize the tiny per-status rollup (≤3 groups) before releasing
    # quarantine_corrupt's cached scan — text_formats.py's contract is
    # "unpersist after the two branches", and without this the cached
    # batch lingers in executor memory for the rest of the bench session.
    rows = out.collect()
    raw.unpersist()
    return local_relation_df(spark, rows, out.schema)


@_register(
    "orc_sink_roundtrip",
    sql="""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
  strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prios
FROM orders WHERE o_orderkey % 5 = 2
GROUP BY o_orderstatus
""",
)
def q_orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 generalized to Spark's second columnar format: the shared
    partitioned writer with ``fmt="orc"`` (same dynamic partition
    overwrite + snappy, sinks.write_partitioned_parquet) writes orders
    partitioned by status, partition discovery reads it back, and
    per-status counts, integer cents, the min order date, and priority
    cardinality must survive the ORC round trip exactly — long/double/
    string/timestamp_ntz fidelity through writer, partition pruning, and
    reader. (The reference is parquet-only; a lake migration needs the
    sink contract to hold format-independently.)"""
    src = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 2).select(
        *_ORDERS_COLS
    )
    d = _scratch("orc_sink", sf_dir)
    write_partitioned_parquet(src, d, ["o_orderstatus"], fmt="orc")
    back = spark.read.orc(d)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(_cents("o_totalprice")).alias("sum_cents"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
        F.count_distinct("o_orderpriority").cast("long").alias("n_prios"),
    )


@_register(
    "xml_quarantine_roundtrip",
    sql="""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prios,
  CAST(2 AS BIGINT) AS n_rejects
FROM orders WHERE o_orderkey % 11 = 3
GROUP BY o_orderstatus
""",
)
def q_xml_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerant XML ingest round-trip (Spark 4's native xml source —
    sources/text_formats.py read_xml/write_xml): an orders slice is
    exported as <row> elements, TWO type-malformed elements are injected
    into the landing directory, and the permissive read + quarantine
    split must (a) recover every clean row exactly — per-status counts,
    integer cents, priority cardinality survive double -> XML text ->
    double — and (b) route exactly the injected elements to the reject
    frame without aborting the job. Same 100 TB contract as CSV/JSONL
    quarantine: a bad feed element costs its row, not the pipeline.
    (The reference is parquet-only; XML is the legacy-feed extension.)"""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.text_formats import (
        quarantine_corrupt,
        read_xml,
        write_xml,
    )

    src = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 3).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    d = _scratch("xml_quarantine", sf_dir)
    land = os.path.join(d, "landing")
    write_xml(src, land)
    bad = local_relation_df(spark, 
        [
            (
                "<rows><row><o_orderkey>not-a-key</o_orderkey>"
                "<o_orderstatus>O</o_orderstatus>"
                "<o_totalprice>1.5</o_totalprice>"
                "<o_orderpriority>1-URGENT</o_orderpriority></row>"
                "<row><o_orderkey>7</o_orderkey>"
                "<o_orderstatus>F</o_orderstatus>"
                "<o_totalprice>almost-a-price</o_totalprice>"
                "<o_orderpriority>2-HIGH</o_orderpriority></row></rows>",
            )
        ],
        "value string",
    )
    bad.repartition(1).write.mode("append").text(land)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    raw = read_xml(spark, land, schema)
    clean, rejects = quarantine_corrupt(raw)
    n_rejects = rejects.count()  # metadata-class driver scalar
    out = clean.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(_cents("o_totalprice")).alias("sum_cents"),
        F.count_distinct("o_orderpriority").cast("long").alias("n_prios"),
    ).withColumn("n_rejects", F.lit(n_rejects).cast("long"))
    # materialize the tiny rollup, then release quarantine_corrupt's cache
    rows = out.collect()
    raw.unpersist()
    return local_relation_df(spark, rows, out.schema)


@_register(
    "state_store_inspect_roundtrip",
    sql="""
SELECT user_id,
  CAST(count(*) AS BIGINT) AS state_n,
  CAST(round(sum(value) * 100) AS BIGINT) AS state_total_cents
FROM events WHERE user_id % 9 = 0
GROUP BY user_id
""",
)
@_with_stream_shuffle
def q_state_store_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline state-store observability (streaming/state_reader.py
    read_state_store / read_state_metadata, the Spark 4 state data
    source): a per-user streaming count/sum aggregate is fed in TWO
    availableNow runs over one checkpoint (even event_ids, then odd), and
    the attested values are read FROM THE CHECKPOINT'S STATE FILES — not
    from any sink the stream wrote. If the state a restart would resume
    from is exactly the whole-corpus batch aggregate (the oracle), then
    checkpoint persistence, cross-run state merge, and the offline reader
    all hold at once. This is the incident-response primitive for a
    100 TB stream: validate terabytes of live state against a batch
    recomputation without replaying the source. state-metadata is
    asserted in-body (one stateStoreSave operator, partition count from
    the stream's conf) so a topology regression fails loudly here rather
    than as an oracle diff."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.streaming.state_reader import (
        read_state_metadata,
        read_state_store,
    )

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") % 9 == 0).select(
        "event_id", "user_id", "value"
    )
    d = _scratch("state_inspect", sf_dir)
    inp = os.path.join(d, "in")
    ckpt = os.path.join(d, "ckpt")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def run_once() -> None:
        stream = spark.readStream.schema(schema).parquet(inp)
        agg = stream.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )
        (
            # state is the product — sink to the noop source, which still
            # PROCESSES every partition (commit validation requires all
            # state partitions to run; a swallow-the-frame lambda fails it)
            agg.writeStream.foreachBatch(
                lambda b, _eid: b.write.format("noop").mode("overwrite").save()
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    e.filter(F.col("event_id") % 2 == 0).repartition(1).write.mode("append").parquet(inp)
    run_once()
    e.filter(F.col("event_id") % 2 == 1).repartition(1).write.mode("append").parquet(inp)
    run_once()

    meta = read_state_metadata(spark, ckpt)
    ops = [(r.operatorName, r.numPartitions) for r in meta.collect()]  # topology rows
    assert ops == [("stateStoreSave", 4)], f"unexpected state topology: {ops}"

    st = read_state_store(spark, ckpt)  # flattened: user_id, count, sum
    key_col, n_col, sum_col = st.columns[0], st.columns[1], st.columns[2]
    return st.select(
        F.col(key_col).alias("user_id"),
        F.col(n_col).cast("long").alias("state_n"),
        F.round(F.col(sum_col) * 100).cast("long").alias("state_total_cents"),
    )


@_register(
    "binary_file_ingest_roundtrip",
    sql="""
SELECT CAST(length(text) % 8 AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
  CAST(sum(CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT)
           % 1000000007) AS BIGINT) AS text_checksum
FROM documents
GROUP BY 1
""",
)
def q_binary_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file ingest via the binaryFile source (sources/binary.py
    read_binary_files) — the front door of the multimodal pipeline: asset
    corpora arrive as FILES, not table rows. ``documents`` is landed as 8
    opaque files (one hex-encoded doc per line; hex, not base64, because
    it can never contain a line break), scanned back with
    ``format("binaryFile")`` + glob pushdown, decoded JVM-side
    (split/unhex — no Python in the loop), and the reassembled corpus is
    checksummed per length-bucket against the parquet source. Hash
    equality proves the bytes survived file landing -> binary scan ->
    decode with zero loss; the in-body assert pins that the glob saw
    exactly the 8 landed part files (a 9th file, or a missed one, is an
    ingest bug even when its content hashes to the same total)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.binary import read_binary_files

    docs = _t(spark, sf_dir, "documents").select("text")
    d = _scratch("binfile_ingest", sf_dir)
    land = os.path.join(d, "landing")
    # every data line gets an 'x' sentinel prefix so an EMPTY document
    # (hex '') still lands as the non-empty line "x" — the empty-line
    # filter below then removes ONLY the trailing-newline split artifact,
    # never a real row (an unprefixed protocol would silently drop
    # empty-text docs and value-hash-diverge from the oracle)
    docs.select(
        F.concat(F.lit("x"), F.hex(F.encode("text", "UTF-8"))).alias("value")
    ).repartition(8).write.text(land)

    raw = read_binary_files(spark, land, glob="*.txt")
    n_files = raw.count()  # metadata-class driver scalar (file listing)
    assert n_files == 8, f"binaryFile glob saw {n_files} files, expected 8"

    texts = (
        raw.select(
            F.explode(F.split(F.decode(F.col("content"), "UTF-8"), "\n")).alias("hx")
        )
        .filter(F.length("hx") > 0)
        .select(F.decode(F.unhex(F.substring("hx", 2, 1 << 30)), "UTF-8").alias("text"))
    )
    h60 = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    return texts.groupBy(
        (F.length("text") % 8).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_chars"),
        F.sum(h60 % 1000000007).cast("long").alias("text_checksum"),
    )


@_register(
    "python_stream_source_roundtrip",
    sql="""
SELECT CAST(i % 16 AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(i) AS BIGINT) AS sum_ids,
  CAST(sum(8 + (CAST(concat('0x', substring(md5(CAST(i AS VARCHAR)), 1, 2))
                     AS INT) % 25)) AS BIGINT) AS sum_tokens
FROM range(0, 1600) t(i)
GROUP BY 1
""",
)
@_with_stream_shuffle
def q_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING data source end to end
    (sources/pydatasource.py SynthDocsStreamReader): the synthetic-corpus
    generator driven through Spark's streaming engine — offset log,
    partition-planned executor-side reads, checkpoint restart — in TWO
    availableNow runs on one checkpoint (target 800 rows, then 1600).
    The second run must generate ONLY the continuation (rows 800..1599):
    any offset-log bug double-generates or skips, and the oracle —
    DuckDB replaying the generator's closed form (n_tokens is
    8 + (first md5 byte % 25), reproduced byte-for-byte in SQL) over
    range(0,1600) — catches either as a value-hash diff. This is the
    connector-author contract: a Python source participates in
    exactly-once micro-batching identically to a built-in one."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pydatasource import SynthDocsDataSource

    spark.dataSource.register(SynthDocsDataSource)
    d = _scratch("py_stream_source", sf_dir)
    outp = os.path.join(d, "out")
    ckpt = os.path.join(d, "ckpt")

    def run_once(target_rows: int) -> None:
        s = (
            spark.readStream.format("synthdocs")
            .option("target_rows", target_rows)
            .option("n_partitions", 4)
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

    run_once(800)
    run_once(1600)
    back = spark.read.parquet(outp)
    return back.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


@_register(
    "manifest_sink_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
""",
)
def q_manifest_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER end to end (sources/pysink.py
    ManifestSinkWriter): ``documents`` written through the
    manifest-committed sink — tasks stage uniquely-named files, the
    driver publishes ONE atomic manifest — then read back THROUGH the
    manifest and aggregated against the parquet source. An injected
    orphan file (a staged-but-never-committed attempt, the speculative-
    execution residue the protocol exists to neutralize) sits in the
    directory during the readback; the value hash proves the manifest
    made it invisible. This is the two-phase commit shape every
    object-store sink needs at 100 TB: stage under unique names, publish
    one small atomic pointer."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_sink", sf_dir)
    docs.repartition(4).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()
    # an orphaned attempt: a staged copy of a committed file, never committed
    src = next(f for f in os.listdir(d) if f.startswith("part-"))
    shutil.copy(os.path.join(d, src), os.path.join(d, "part-99999-orphan.parquet"))
    back = read_manifest_sink(spark, d)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_sink_time_travel",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id % 3 < 2
GROUP BY lang
""",
)
def q_manifest_sink_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the manifest sink's versioned commit log
    (sources/pysink.py): three append jobs land disjoint thirds of
    ``documents`` as commits v1/v2/v3, then the readback PINS
    ``version=2`` — the snapshot as of the second commit. The oracle is
    the first two thirds computed directly from the parquet source, so
    the value hash proves (a) version resolution returns exactly the
    pinned commits' files, (b) the later commit is invisible at the pin,
    and (c) an in-flight job (a staged-but-uncommitted file injected
    before the read) can never leak into a pinned snapshot. This is the
    snapshot-isolation contract a 100 TB table format provides: readers
    name a version and get an immutable answer while writers keep
    committing."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_time_travel", sf_dir)
    for third in (0, 1, 2):  # -> commits v1, v2, v3
        docs.filter(F.col("doc_id") % 3 == third).repartition(2).write.format(
            "manifestsink"
        ).option("path", d).mode("append").save()
    # an in-flight concurrent job: staged, no manifest — invisible at any pin
    src = next(f for f in os.listdir(d) if f.startswith("part-"))
    shutil.copy(os.path.join(d, src), os.path.join(d, "part-77777-inflight.parquet"))
    back = read_manifest_sink(spark, d, version=2)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_sink_parquet_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
""",
)
def q_manifest_sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMNAR staging through the manifest commit log, with the
    staging format named explicitly (sources/pysink.py
    ``option("format", "parquet")``, the sink's only format and its
    default): tasks stage Arrow-written parquet files — chunked
    RecordBatch writes, schema derived from the writer's Spark schema —
    and the two-phase protocol publishes the pointer. The readback
    resolves through the log and reads parquet with the schema PINNED
    from the manifests (never inferred); an injected orphan ``.parquet``
    (speculative residue) is invisible. This is the at-scale shape: at
    100 TB the protocol carries columnar files, and the value hash
    proves the explicit option stages exactly what the default does."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_sink_parquet", sf_dir)
    docs.repartition(4).write.format("manifestsink").option("path", d).option(
        "format", "parquet"
    ).mode("append").save()
    # orphaned speculative attempt, parquet flavor: staged, never committed
    src = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    shutil.copy(os.path.join(d, src), os.path.join(d, "part-99999-orphan.parquet"))
    back = read_manifest_sink(spark, d)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_checkpoint_resolve_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
""",
)
def q_manifest_checkpoint_resolve_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHECKPOINT-accelerated log resolution (sources/pysink.py
    ``_CHECKPOINT.v*`` + the ``_LAST_CHECKPOINT`` hint — Delta's
    last-checkpoint design re-expressed): three append jobs land
    disjoint thirds of ``documents`` with ``checkpointInterval=2``, so
    commit v2 also publishes a rollup of the resolved state. The
    readback therefore resolves through checkpoint-v2 + the v3 delta —
    one tiny rollup read plus a dense forward probe, NO directory
    listing and no O(history) manifest opens — and the value hash proves
    the fast path returns exactly the full-log answer. This is what
    keeps a 100 TB table's metadata path flat at tens of thousands of
    commits."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_ckpt_resolve", sf_dir)
    for third in (0, 1, 2):  # -> commits v1, v2 (+checkpoint), v3
        docs.filter(F.col("doc_id") % 3 == third).repartition(2).write.format(
            "manifestsink"
        ).option("path", d).option("checkpointInterval", "2").mode("append").save()
    back = read_manifest_sink(spark, d)  # ckpt@2 + delta v3, hint-guided
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_schema_evolution_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(count(CASE WHEN doc_id % 3 <> 0 THEN 1 END) AS BIGINT) AS n_evolved,
  CAST(sum(CASE WHEN doc_id % 3 <> 0 THEN n_chars END) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
""",
)
def q_manifest_schema_evolution_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADDITIVE schema evolution through the manifest log
    (sources/pysink.py _pin_read_schema): commit v1 lands a third of
    ``documents`` WITHOUT ``n_chars``, commit v2 lands the rest WITH it;
    the readback's schema is the recorded-schema UNION and v1's rows
    project ``n_chars`` as NULL — the table-format evolution contract
    (old files never rewritten), with type CONFLICTS still a loud
    failure (test-pinned). The oracle computes the same null pattern
    from the source (`count` of non-null / null-skipping `sum`), so the
    value hash proves the projection is exact, not inferred. At 100 TB
    this is the difference between adding a column and rewriting a
    table."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents")
    d = _scratch("manifest_schema_evolution", sf_dir)
    docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "lang").repartition(
        2
    ).write.format("manifestsink").option("path", d).mode("append").save()
    docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id", "lang", "n_chars"
    ).repartition(2).write.format("manifestsink").option("path", d).mode(
        "append"
    ).save()
    back = read_manifest_sink(spark, d)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.count("n_chars").cast("long").alias("n_evolved"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_stats_pruned_read",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id <= 200
GROUP BY lang
""",
)
def q_manifest_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-LEVEL min/max data skipping (sources/pysink.py
    ``statsColumns`` + prune_manifest_files — the Iceberg/Delta file-stats
    idea): ``documents`` lands range-clustered on doc_id as 4 staged
    files whose commits record per-file [min, max]; the readback prunes
    to ``doc_id <= 200`` FROM METADATA ALONE (an in-query assert pins
    that files were actually dropped) and then applies the real filter —
    pruning is a superset contract, correctness never depends on it. The
    value hash proves the pruned scan returns exactly the source rows.
    At 100 TB this is the first skipping tier, ABOVE parquet footers:
    whole files eliminated before the scan plan even sees them, from
    one small JSON read."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        prune_manifest_files,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_stats_prune", sf_dir)
    docs.repartitionByRange(4, "doc_id").write.format("manifestsink").option(
        "path", d
    ).option("statsColumns", "doc_id").mode("append").save()
    # pin that skipping actually skipped with a SCALE-RELATIVE probe (a
    # bound below the second range-partition's min prunes >= 1 file at
    # ANY scale factor — the fixed result bound of 200 couldn't promise
    # that on a tiny table), and raise instead of assert so the check
    # survives python -O (ADVICE r13)
    b = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
    probe = b["lo"] + max(1, (b["hi"] - b["lo"]) // 8)
    kept, total = prune_manifest_files(d, {"doc_id": (None, probe)})
    if not len(kept) < total:  # skipping actually skipped
        raise ValueError(f"stats skipping pruned nothing: kept {len(kept)}/{total}")
    back = read_manifest_sink(spark, d, prune={"doc_id": (None, 200)})
    return (
        back.filter(F.col("doc_id") <= 200)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@_register(
    "manifest_bloom_pruned_read",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id IN (1, 21, 41, 61)
GROUP BY lang
""",
)
def q_manifest_bloom_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER file skipping (sources/pysink.py
    ``bloomFilterColumns`` — Delta/Parquet bloom indexes lifted to the
    manifest tier): ``documents`` lands as 4 files by doc_id RESIDUE
    class, so every file's [min, max] spans nearly the whole id domain
    and range stats can prune NOTHING for a point lookup — the
    anti-clustered case. Each commit also records a per-file bloom
    (10 bits/key, 7 probes) over doc_id; a 4-key point lookup (all
    residue-1 ids, fixed so the probe is scale-stable) must keep the
    class-1 file and bloom-prune at least one other (the pin tolerates
    the bloom's ~0.8%-per-key false-KEEP rate — a false positive may
    keep an extra file, never lose a row; P(no prune at all) ~ 3e-5
    even under a data reseed). A control re-runs the same lookup as one
    RANGE to prove range stats alone keep everything — the pruning was
    the bloom tier's. The value hash proves the pruned scan loses no
    row. At 100 TB this is the point-lookup complement to clustering:
    an id probe on a non-clustered column opens O(files that really
    hold it), not O(table)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        prune_manifest_files,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_bloom", sf_dir)
    for k in (0, 1, 2, 3):  # one file per residue class: ranges interleave
        docs.filter(F.col("doc_id") % 4 == k).repartition(1).write.format(
            "manifestsink"
        ).option("path", d).option("statsColumns", "doc_id").option(
            "bloomFilterColumns", "doc_id"
        ).mode("append").save()
    keys = [1, 21, 41, 61]  # all in the class-1 file at every SF
    points = [(k, k) for k in keys]
    kept, total = prune_manifest_files(d, {"doc_id": points})
    if total != 4 or not kept:
        raise ValueError(f"unexpected layout: kept {len(kept)}/{total}")
    if len(kept) >= total:
        raise ValueError("bloom skipping pruned nothing for a point lookup")
    # control: the same lookup as one RANGE cannot prune interleaved files
    range_kept, _ = prune_manifest_files(d, {"doc_id": (min(keys), max(keys))})
    if len(range_kept) < total:
        raise ValueError(
            "range stats alone pruned the interleaved layout — the bloom "
            "pin above proved nothing"
        )
    back = read_manifest_sink(spark, d, prune={"doc_id": points})
    return (
        back.filter(F.col("doc_id").isin(keys))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@_register(
    "manifest_optimize_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
""",
)
def q_manifest_optimize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE through the commit log (sources/pysink.py
    optimize_manifest_sink): two append jobs land ``documents`` halves as
    12 small staged files, the optimizer rewrites the snapshot as 2
    files published in ONE overwrite commit, expire + vacuum reclaim the
    superseded generation — and the readback still equals the source
    exactly. This is the small-file compaction every 100 TB table needs
    (file count, not data size, is what kills scan planning), done
    through the same snapshot-isolated commit path as any other write:
    readers never see a partial rewrite, time travel dies only when
    retention says so."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        expire_manifest_versions,
        optimize_manifest_sink,
        read_manifest_sink,
        resolve_manifest_files,
        vacuum_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_optimize", sf_dir)
    for half in (0, 1):
        docs.filter(F.col("doc_id") % 2 == half).repartition(6).write.format(
            "manifestsink"
        ).option("path", d).mode("append").save()
    optimize_manifest_sink(spark, d, target_files=2)
    expire_manifest_versions(d, min_version=3)  # the optimize commit
    vacuum_manifest_sink(d, grace_seconds=0)  # reclaim the 12 small files
    assert len(resolve_manifest_files(d)) == 2
    back = read_manifest_sink(spark, d)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_history_report",
    sql="""
SELECT CAST(t.v AS BIGINT) AS version, t.mode,
  CASE WHEN t.mode = 'overwrite' THEN 'OVERWRITE' ELSE 'WRITE' END AS operation,
  CAST(t.n_rows AS BIGINT) AS n_rows, CAST(2 AS INT) AS n_files
FROM (
  SELECT 1 AS v, 'append' AS mode,
    (SELECT count(*) FROM documents WHERE doc_id % 3 = 0) AS n_rows
  UNION ALL SELECT 2, 'append',
    (SELECT count(*) FROM documents WHERE doc_id % 3 = 1)
  UNION ALL SELECT 3, 'append',
    (SELECT count(*) FROM documents WHERE doc_id % 3 = 2)
  UNION ALL SELECT 4, 'overwrite',
    (SELECT count(*) FROM documents WHERE doc_id % 7 = 0)
) t
""",
)
def q_manifest_history_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY over the commit log (sources/pysink.py
    manifest_history — Delta's operation audit): three append commits
    land ``documents`` thirds, an overwrite lands a base, and the
    report returns one row per surviving commit with its mode, its
    OPERATION label (Delta's operation column — WRITE / OVERWRITE /
    REPLACE / RESTORE / CLONE / STREAM_COMPACTION, derived from the
    commit's recorded facts), and the exact rows/files it published. The oracle recomputes every commit's
    row count from the source table, so the value hash proves the log's
    self-description matches what was actually committed — the audit
    surface an operator trusts before expiring history at 100 TB."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        manifest_history,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    d = _scratch("manifest_history", sf_dir)
    for third in (0, 1, 2):
        docs.filter(F.col("doc_id") % 3 == third).repartition(2).write.format(
            "manifestsink"
        ).option("path", d).mode("append").save()
    docs.filter(F.col("doc_id") % 7 == 0).repartition(2).write.format(
        "manifestsink"
    ).option("path", d).mode("overwrite").save()
    return manifest_history(spark, d).select(
        "version", "mode", "operation", "n_rows", "n_files"
    )


@_register(
    "manifest_merge_upsert_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT doc_id, lang,
    CASE WHEN doc_id % 97 = 0 THEN n_chars + 1000000 ELSE n_chars END AS n_chars
  FROM documents
  UNION ALL
  SELECT 1000000007 AS doc_id, 'zz' AS lang, 7 AS n_chars
  UNION ALL
  SELECT 1000000009 AS doc_id, 'zz' AS lang, 9 AS n_chars
)
GROUP BY lang
""",
)
def q_manifest_merge_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO through the commit log (sources/pysink.py
    merge_into_manifest_sink — the Delta copy-on-write upsert
    re-expressed): ``documents`` lands range-clustered with per-file
    stats; the updates bump every 97th doc's n_chars by 1,000,000 and
    insert two brand-new keys. ONE replace commit swaps exactly the
    files that truly hold a matching key. The every-97th update keys
    deliberately span all range files (so this query exercises the
    full-width case; the file-scoped-rewrite pin lives in
    manifest_delete_replace_roundtrip, whose predicate provably misses
    the high ranges); the in-query checks pin rewritten <= candidates
    and that the pre-merge snapshot is still readable at the base
    version. The oracle replays the same upsert in SQL over the source,
    so the value hash proves row-level semantics: updated rows replaced,
    unmatched rows untouched, new keys inserted exactly once. At 100 TB
    this is how an upsert of k keys costs O(files holding those keys),
    not O(table)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        merge_into_manifest_sink,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_merge", sf_dir)
    docs.repartitionByRange(4, "doc_id").write.format("manifestsink").option(
        "path", d
    ).option("statsColumns", "doc_id").option("format", "parquet").mode(
        "append"
    ).save()
    updates = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .withColumn("n_chars", (F.col("n_chars") + 1000000).cast("long"))
        .unionByName(
            local_relation_df(spark, 
                [(1000000007, "zz", 7), (1000000009, "zz", 9)],
                "doc_id long, lang string, n_chars long",
            )
        )
    )
    res = merge_into_manifest_sink(spark, d, updates, ["doc_id"])
    if not res["rewritten_files"]:
        raise ValueError("merge rewrote no file despite matching keys")
    if len(res["rewritten_files"]) > res["candidate_files"]:
        raise ValueError(f"rewrite exceeded the pruned candidate set: {res}")
    # the pre-merge snapshot is still time-travelable at the base version
    if read_manifest_sink(spark, d, version=res["base_version"]).filter(
        F.col("doc_id") >= 1000000000
    ).count():
        raise ValueError("inserted keys leaked into the pre-merge snapshot")
    back = read_manifest_sink(spark, d)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_delete_replace_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id > 200
GROUP BY lang
""",
)
def q_manifest_delete_replace_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELETE WHERE through the commit log (sources/pysink.py
    delete_from_manifest_sink): ``documents`` lands range-clustered with
    stats, then ``doc_id <= 200`` is deleted — the stats tier scopes the
    scan to files whose [min, max] admits a low id, the exact scan
    rewrites ONLY files truly holding a matching row, and ONE replace
    commit publishes the swap (an in-query check raises if every file
    was rewritten — the high ranges provably hold no id <= 200 at any
    scale factor, so at least the top range file must survive untouched
    BY NAME). The oracle is the complement filter over the source;
    the value hash proves deleted rows are gone and every other row —
    including rows that shared a file with deleted ones — survives
    exactly once. Time travel to the pre-delete snapshot stays legal
    until expire; vacuum then reclaims the swapped-out files."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        delete_from_manifest_sink,
        read_manifest_sink,
        resolve_manifest_files,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_delete", sf_dir)
    docs.repartitionByRange(4, "doc_id").write.format("manifestsink").option(
        "path", d
    ).option("statsColumns", "doc_id").mode("append").save()
    before = {os.path.basename(f) for f in resolve_manifest_files(d)}
    res = delete_from_manifest_sink(
        spark, d, "doc_id <= 200", prune={"doc_id": (None, 200)}
    )
    if not res["rewritten_files"]:
        raise ValueError("delete rewrote no file despite matching rows")
    if len(res["rewritten_files"]) >= res["total_files"]:
        raise ValueError(f"delete rewrote the whole snapshot: {res}")
    after = {os.path.basename(f) for f in resolve_manifest_files(d)}
    untouched = before - set(res["rewritten_files"])
    if not untouched <= after:
        raise ValueError("an untouched file vanished from the snapshot")
    back = read_manifest_sink(spark, d)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_timestamp_time_travel",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id % 3 = 0
GROUP BY lang
""",
)
def q_manifest_timestamp_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIMESTAMP AS OF over the commit log (sources/pysink.py
    version_at_timestamp + read_manifest_sink(timestamp=...)): commit v1
    lands a third of ``documents``, a wall-clock instant is captured,
    commits v2/v3 land the rest — and the readback pins that INSTANT,
    not a version number. Resolution is the monotone-clamped
    newest-commit-at-or-before rule (Delta's clock-skew clamp,
    documented at version_at_timestamp). The oracle is the first third
    from the source, so the value hash proves the timestamp resolved to
    exactly the v1 snapshot — the "AS OF yesterday" question every
    versioned table gets asked first."""
    import time as _time

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        read_manifest_sink,
        version_at_timestamp,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_ts_travel", sf_dir)
    docs.filter(F.col("doc_id") % 3 == 0).repartition(2).write.format(
        "manifestsink"
    ).option("path", d).mode("append").save()
    _time.sleep(0.05)
    pin = _time.time()
    _time.sleep(0.05)
    for third in (1, 2):
        docs.filter(F.col("doc_id") % 3 == third).repartition(2).write.format(
            "manifestsink"
        ).option("path", d).mode("append").save()
    if version_at_timestamp(d, pin) != 1:
        raise ValueError("timestamp between v1 and v2 must resolve to v1")
    back = read_manifest_sink(spark, d, timestamp=pin)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_null_stats_pruned_read",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_opt
FROM documents
WHERE doc_id % 2 = 1
GROUP BY lang
""",
)
def q_manifest_null_stats_pruned_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NULL-count data skipping (sources/pysink.py r14 stats: per-file
    null/row counts beside [min, max]): two commits land ``documents``
    halves with a derived ``opt`` column that is ALL-NULL in one commit
    and never-null in the other; ``prune={"opt": "is_not_null"}`` drops
    the all-null files FROM METADATA ALONE (an in-query check raises if
    nothing was pruned — provable at any scale factor since the split is
    by construction), then the real ``opt IS NOT NULL`` filter runs —
    superset contract as always. The oracle recomputes the never-null
    half from the source; the value hash proves the null-predicate tier
    prunes files, never rows. IS [NOT] NULL predicates are the single
    most common skipping miss in min/max-only designs (the r13 gap this
    closes)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        prune_manifest_files,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_null_stats", sf_dir)
    # even half: opt is all-NULL; odd half: opt = n_chars (never null)
    evens = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "opt", F.lit(None).cast("long")
    )
    odds = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "opt", F.col("n_chars").cast("long")
    )
    for half in (evens, odds):
        half.repartition(2).write.format("manifestsink").option("path", d).option(
            "statsColumns", "opt"
        ).mode("append").save()
    kept, total = prune_manifest_files(d, {"opt": "is_not_null"})
    if not len(kept) < total:
        raise ValueError(f"null-count skipping pruned nothing: {len(kept)}/{total}")
    back = read_manifest_sink(spark, d, prune={"opt": "is_not_null"})
    return (
        back.filter(F.col("opt").isNotNull())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("opt").cast("long").alias("sum_opt"),
        )
    )


@_register(
    "manifest_restore_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id % 3 < 2
GROUP BY lang
""",
)
def q_manifest_restore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE through the commit log (sources/pysink.py
    restore_manifest_sink — Delta's RESTORE TO VERSION AS OF): three
    commits land ``documents`` thirds, a DELETE rewrites part of the
    table (v4), then the table is RESTORED to v2 — one metadata-only
    overwrite commit re-listing v2's files, no data file read or moved.
    The oracle is the first two thirds from the source, so the value
    hash proves the restored snapshot is exactly the old state; in-query
    checks pin that history was PRESERVED, not rewritten (the deleted
    state is still readable at v4, and the restore landed as v5). At
    100 TB this is the instant-rollback story: undoing a bad job is one
    small JSON publish."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        delete_from_manifest_sink,
        read_manifest_sink,
        restore_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_restore", sf_dir)
    for third in (0, 1, 2):  # -> v1, v2, v3
        docs.filter(F.col("doc_id") % 3 == third).repartition(2).write.format(
            "manifestsink"
        ).option("path", d).mode("append").save()
    delete_from_manifest_sink(spark, d, "doc_id % 3 = 0")  # v4
    v = restore_manifest_sink(d, 2)  # roll back to the first two thirds
    if v != 5:
        raise ValueError(f"restore must land as version 5, got {v}")
    # history preserved: the post-delete state is still readable AT v4
    if read_manifest_sink(spark, d, version=4).filter(
        F.col("doc_id") % 3 == 0
    ).limit(1).count():
        raise ValueError("the v4 delete state leaked rows it had deleted")
    back = read_manifest_sink(spark, d)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_cdc_changes",
    sql="""
SELECT _change_type, lang,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM (
  SELECT 'delete' AS _change_type, lang, doc_id
  FROM documents WHERE doc_id % 4 = 2
  UNION ALL
  SELECT 'insert' AS _change_type, lang, doc_id
  FROM documents WHERE doc_id % 4 = 2 AND doc_id > 200
)
GROUP BY _change_type, lang
""",
)
def q_manifest_cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED from the commit log (sources/pysink.py
    manifest_changes — Delta's table_changes re-expressed as a file-set
    diff, no per-row tracking): four commits land ``documents`` by
    doc_id residue class (one file each), a DELETE rewrites exactly the
    class-2 file, and ``manifest_changes(base, base+1)`` reads ONLY the
    diffed files — every old class-2 row as a delete, the survivors as
    inserts, untouched classes contributing nothing (pinned in-query:
    exactly one file was rewritten). The oracle replays the diff in SQL;
    the value hash proves CDC exactness. At 100 TB a CDC consumer reads
    O(changed data), never the table — the file-immutability argument
    (a row changes only by its file being replaced) is what makes the
    file-set diff exact."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        delete_from_manifest_sink,
        manifest_changes,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_cdc", sf_dir)
    for k in (0, 1, 2, 3):  # -> v1..v4, one file per residue class
        docs.filter(F.col("doc_id") % 4 == k).repartition(1).write.format(
            "manifestsink"
        ).option("path", d).mode("append").save()
    res = delete_from_manifest_sink(spark, d, "doc_id % 4 = 2 AND doc_id <= 200")
    if len(res["rewritten_files"]) != 1:
        raise ValueError(
            f"the delete must rewrite exactly the class-2 file: {res}"
        )
    ch = manifest_changes(spark, d, from_version=4, to_version=5)
    return ch.groupBy("_change_type", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


@_register(
    "manifest_merge_delete_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT doc_id, lang,
    CASE WHEN doc_id % 13 = 0 THEN n_chars + 500000 ELSE n_chars END AS n_chars
  FROM documents
  WHERE NOT (doc_id % 11 = 0 AND doc_id <= 400)
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(2000000003 AS BIGINT), 'zz', CAST(3 AS BIGINT)),
    (CAST(2000000005 AS BIGINT), 'zz', CAST(5 AS BIGINT)))
)
GROUP BY lang
""",
)
def q_manifest_merge_delete_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGE with WHEN MATCHED ... THEN DELETE (sources/pysink.py
    merge_into_manifest_sink(delete_condition=...) — Delta's
    merge-delete arm): one merge statement carries three intents at
    once — delete every matched ``doc_id % 11 = 0 AND doc_id <= 400``
    key, update every other ``doc_id % 13 = 0`` key's n_chars by
    +500000, insert two brand-new keys — plus one delete-intent row on
    a key that does NOT exist (WHEN NOT MATCHED has no DELETE arm, so
    it must insert nothing). The condition column ``_del`` is a
    non-table column, legal only as delete_condition input, and must
    not leak into the table. The oracle replays all three arms in SQL;
    the value hash proves per-row semantics. One replace commit, files
    scoped by key stats — an upsert+delete of k keys costs O(files
    holding those keys) at 100 TB, never O(table)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        merge_into_manifest_sink,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_merge_delete", sf_dir)
    docs.repartitionByRange(4, "doc_id").write.format("manifestsink").option(
        "path", d
    ).option("statsColumns", "doc_id").option("format", "parquet").mode(
        "append"
    ).save()
    is_del = (F.col("doc_id") % 11 == 0) & (F.col("doc_id") <= 400)
    updates = (
        docs.filter(is_del | (F.col("doc_id") % 13 == 0))
        .withColumn(
            "n_chars",
            F.when(is_del, F.col("n_chars")).otherwise(
                (F.col("n_chars") + 500000).cast("long")
            ),
        )
        .withColumn("_del", is_del)
        .unionByName(
            local_relation_df(spark, 
                [
                    (2000000003, "zz", 3, False),
                    (2000000005, "zz", 5, None),
                    (2000000011, "zz", 0, True),  # missing key: no-op
                ],
                "doc_id long, lang string, n_chars long, _del boolean",
            )
        )
    )
    res = merge_into_manifest_sink(
        spark, d, updates, ["doc_id"], delete_condition="_del"
    )
    if not res["rewritten_files"]:
        raise ValueError("merge-delete rewrote no file despite matching keys")
    back = read_manifest_sink(spark, d)
    if "_del" in back.columns:
        raise ValueError("the delete_condition column leaked into the table")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_cdc_keyed_changes",
    sql="""
SELECT _change_type, lang,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT 'update_preimage' AS _change_type, lang, doc_id, n_chars
  FROM documents WHERE doc_id % 4 = 2 AND doc_id <= 200
  UNION ALL
  SELECT 'update_postimage', lang, doc_id, n_chars + 500000
  FROM documents WHERE doc_id % 4 = 2 AND doc_id <= 200
  UNION ALL
  SELECT 'delete', lang, doc_id, n_chars
  FROM documents WHERE doc_id % 4 = 2 AND doc_id > 200 AND doc_id <= 400
  UNION ALL
  SELECT 'insert', 'zz', CAST(2000000002 AS BIGINT), CAST(7 AS BIGINT)
)
GROUP BY _change_type, lang
""",
)
def q_manifest_cdc_keyed_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC with merge keys (sources/pysink.py manifest_changes
    keys=... — Delta's update_preimage/update_postimage re-expressed):
    ``documents`` lands one file per doc_id residue class, then ONE
    merge updates the class-2 keys <= 200 (+500000 n_chars), deletes
    the class-2 keys in (200, 400], and inserts one new key. The keyed
    feed must (a) CANCEL every carried row — class-2 rows > 400 ride
    along in the rewritten file but are identical on both sides, so
    they are not changes; (b) pair each updated key as
    update_preimage/update_postimage; (c) leave the unpaired rows as
    delete/insert. The oracle replays the classification in SQL; the
    value hash proves all four arms. The diff still reads only the
    replaced/added files — O(changed data) at 100 TB."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        manifest_changes,
        merge_into_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_cdc_keyed", sf_dir)
    for k in (0, 1, 2, 3):  # -> v1..v4, one file per residue class
        docs.filter(F.col("doc_id") % 4 == k).repartition(1).write.format(
            "manifestsink"
        ).option("path", d).mode("append").save()
    is_class2 = F.col("doc_id") % 4 == 2
    is_del = is_class2 & (F.col("doc_id") > 200) & (F.col("doc_id") <= 400)
    updates = (
        docs.filter(is_class2 & (F.col("doc_id") <= 400))
        .withColumn(
            "n_chars",
            F.when(is_del, F.col("n_chars")).otherwise(
                (F.col("n_chars") + 500000).cast("long")
            ),
        )
        .withColumn("_del", is_del)
        .unionByName(
            local_relation_df(spark, 
                [(2000000002, "zz", 7, False)],
                "doc_id long, lang string, n_chars long, _del boolean",
            )
        )
    )
    merge_into_manifest_sink(
        spark, d, updates, ["doc_id"], delete_condition="_del"
    )  # -> v5
    ch = manifest_changes(
        spark, d, from_version=4, to_version=5, keys=["doc_id"]
    )
    return ch.groupBy("_change_type", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "flagship_v2_stream_foreachbatch",
    sql="""
WITH base AS (
  SELECT COALESCE(event_type, 'UNKNOWN') AS setor,
         user_id,
         CAST(ts AS DATE) AS d,
         sum(value) AS sum_val
  FROM events
  WHERE event_type IN ('click', 'purchase', 'view')
  GROUP BY 1, 2, 3
), v2 AS (
  SELECT
    setor,
    CAST(user_id AS VARCHAR) AS codigo_acao,
    COALESCE(CASE WHEN user_id % 2 = 0 THEN 'ON' END, 'UNKNOWN') AS tipo,
    COALESCE(CASE WHEN user_id % 7 <> 0
                  THEN CAST(ROUND(sum_val * 100) AS BIGINT) END, 0) AS qt,
    COALESCE(strftime(d, '%Y-%m-%d'), '1970-01-01') AS data_pregao
  FROM base
), w AS (
  SELECT setor, data_pregao, tipo,
    avg(qt) OVER (PARTITION BY setor, codigo_acao
                  ORDER BY CAST(data_pregao AS TIMESTAMP)
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma,
    sum(qt) OVER (PARTITION BY setor, data_pregao) AS total
  FROM v2
)
SELECT setor,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(CAST(round(ma * 1000000) AS BIGINT)) AS BIGINT) AS sum_ma_micro,
  CAST(sum(total) AS BIGINT) AS sum_totals,
  CAST(sum(CASE WHEN tipo = 'UNKNOWN' THEN 1 ELSE 0 END) AS BIGINT) AS n_tipo_filled,
  CAST(sum(CASE WHEN data_pregao = '1970-01-01' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_date_filled
FROM w
GROUP BY setor
""",
)
@_with_stream_shuffle
def q_flagship_v2_stream_foreachbatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EP1's per-file trigger re-expressed as Structured Streaming
    micro-batches (the last V2 fidelity nuance): the reference's V2 job
    (etl/etl.py:36-107) runs once per ARRIVING FILE; here a
    B3_RAW_V2-shaped landing zone (one parquet file per setor, derived
    deterministically from ``events`` per the FIXTURES role mapping)
    is tailed with ``maxFilesPerTrigger=1`` + availableNow, and
    ``foreachBatch(transform_v2)`` applies the REAL batch transform
    (plans/pipeline.py:79 — select, distinct, typed fills, 7-row moving
    average per code, per-(day, setor) totals) to each micro-batch
    independently, exactly the reference's one-file-one-run semantics.
    An in-query check raises unless every file arrived as its own
    micro-batch (window results would otherwise mix setors). The oracle
    replays the per-file transform in SQL — per-file == per-setor by
    construction, so the windows re-key as (setor, codigo) — and the
    value hash proves micro-batched V2 equals batch V2, fills included
    (tipo NULL -> UNKNOWN, missing date -> 1970-01-01, quantity NULL ->
    0 before the windows)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.plans.pipeline import transform_v2
    from fiap_machine_learning_tech_challenge_2_etl_spark.schemas import B3_RAW_V2

    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "value")
        # three landed files keep the multi-file fidelity while bounding
        # the per-micro-batch fixed cost (each file is a full stream
        # lifecycle by design)
        .filter(F.col("event_type").isin("click", "purchase", "view"))
    )
    base = ev.groupBy(
        F.coalesce(F.col("event_type"), F.lit("UNKNOWN")).alias("setor"),
        F.col("user_id"),
        F.to_date("ts").alias("d"),
    ).agg(F.sum("value").alias("sum_val"))
    v2 = base.select(
        "setor",
        F.col("user_id").cast("string").alias("codigo"),
        F.concat(F.lit("ACAO_"), F.col("user_id").cast("string")).alias("acao"),
        F.when(F.col("user_id") % 2 == 0, F.lit("ON")).alias("tipo"),
        F.round(F.col("sum_val"), 6).alias("porcentagem_participacao"),
        F.round(F.col("sum_val") * 2, 6).alias(
            "porcentagem_participacao_acumulada"
        ),
        F.when(
            F.col("user_id") % 7 != 0, F.round(F.col("sum_val") * 100).cast("long")
        ).alias("quantidade_teorica"),
        F.date_format("d", "yyyy-MM-dd").alias("data_pregao"),
    )
    d = _scratch("flagship_v2_stream", sf_dir)
    landing = os.path.join(d, "landing")
    outdir = os.path.join(d, "out")
    ck = os.path.join(d, "ckpt")
    # one file per setor, landed in ONE Spark job: partition-write on a
    # duplicated key (partitionBy strips its column from the data files;
    # setor itself must stay inside them for the B3_RAW_V2 schema), then
    # driver-side renames of the three leaf files into the flat landing
    # dir — the reference's "one daily file" shape without one write job
    # per file
    staging = os.path.join(d, "staging")
    (
        v2.withColumn("part_key", F.col("setor"))
        .repartition(F.col("part_key"))
        .write.partitionBy("part_key")
        .parquet(staging)
    )
    os.makedirs(landing, exist_ok=True)
    setors = []
    for leaf in sorted(glob(os.path.join(staging, "part_key=*"))):
        setors.append(os.path.basename(leaf).split("=", 1)[1])
        for i, f in enumerate(sorted(glob(os.path.join(leaf, "*.parquet")))):
            os.rename(f, os.path.join(landing, f"{setors[-1]}-{i}.parquet"))
    epochs: list[int] = []

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        epochs.append(epoch_id)
        transform_v2(batch).write.mode("append").parquet(outdir)

    (
        spark.readStream.schema(B3_RAW_V2)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    if len(epochs) != len(setors):
        raise ValueError(
            f"per-file trigger fidelity broken: {len(setors)} landed files "
            f"ran as {len(epochs)} micro-batches (windows would mix setors)"
        )
    res = spark.read.parquet(outdir)
    return res.groupBy("setor").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.round(F.col("media_movel_7d_qtde_teorica") * 1000000).cast("long")
        ).cast("long").alias("sum_ma_micro"),
        F.sum("total_qtde_teorica_setor_dia").cast("long").alias("sum_totals"),
        F.sum(F.when(F.col("tipo") == "UNKNOWN", 1).otherwise(0))
        .cast("long")
        .alias("n_tipo_filled"),
        F.sum(F.when(F.col("data_pregao") == "1970-01-01", 1).otherwise(0))
        .cast("long")
        .alias("n_date_filled"),
    )


@_register(
    "manifest_log_stream_tail_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
""",
)
@_with_stream_shuffle
def q_manifest_log_stream_tail_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The manifest commit log as a STREAMING SOURCE (sources/pysink.py
    ManifestLogDataSource — Delta's streaming-table idea re-expressed):
    batch jobs append commits v1/v2 of ``documents`` thirds, a stream
    tails the log (offset = commit version, schema PINNED from the log's
    recorded schemas) into a parquet sink via one availableNow run; a
    THIRD commit lands and a second run on the same checkpoint consumes
    ONLY it. The oracle is the full documents rollup, so the value hash
    proves exactly-once tailing: a reader that re-consumed v1/v2 on the
    second run doubles two thirds, one that missed v3 drops a third —
    either diverges immediately. This closes the lakehouse loop at
    100 TB: writers publish atomic commits, downstream pipelines consume
    them incrementally with no file listing and no reprocessing."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestLogDataSource,
        ManifestSinkDataSource,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    spark.dataSource.register(ManifestLogDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_log_stream_tail", sf_dir)
    log, out, ckpt = (os.path.join(d, x) for x in ("log", "out", "ckpt"))

    def commit_third(third: int) -> None:
        docs.filter(F.col("doc_id") % 3 == third).repartition(2).write.format(
            "manifestsink"
        ).option("path", log).mode("append").save()

    def tail_once() -> None:
        (
            spark.readStream.format("manifestlog")
            .option("path", log)
            .load()
            .writeStream.foreachBatch(
                lambda b, _e: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    commit_third(0)
    commit_third(1)
    tail_once()  # consumes v1+v2
    commit_third(2)
    tail_once()  # consumes ONLY v3 (offset log continuation)
    back = spark.read.parquet(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_retention_delete",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id > (3 * ((SELECT count(*) FROM documents) - 1)) // 8
GROUP BY lang
""",
)
def q_manifest_retention_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION DELETE — metadata-only file drops (sources/pysink.py
    delete_range_from_manifest_sink): ``documents`` lands as 4 EXACT
    quartile files (deterministic ranges, stats recorded), then
    "everything at or below the 3/8 point" is deleted — the operation
    behind every retention policy. The first quartile file is provably
    fully covered with zero nulls, so it drops WITHOUT BEING OPENED
    (pinned: dropped >= 1); the second straddles the bound and is
    rewritten to its survivors (pinned: rewritten >= 1); the top half
    is provably disjoint and survives untouched (pinned: scanned_files
    < total — the proof ladder did the work, not the scan). The bound
    is count-relative on BOTH sides, so the pins hold at any scale
    factor. The oracle is the complement filter; the value hash proves
    no survivor was lost and no deleted row leaked. At 100 TB on a
    time-clustered table this costs one JSON commit + O(straddling
    files), never O(deleted data)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        delete_range_from_manifest_sink,
        read_manifest_sink,
        resolve_manifest_files,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_retention", sf_dir)
    cnt = docs.count()
    for q in (0, 1, 2, 3):  # exact quartiles: deterministic file ranges
        docs.filter(
            (F.col("doc_id") * 4 / F.lit(cnt)).cast("int") == q
        ).repartition(1).write.format("manifestsink").option("path", d).option(
            "statsColumns", "doc_id"
        ).mode("append").save()
    before = {os.path.basename(f) for f in resolve_manifest_files(d)}
    bound = (3 * (cnt - 1)) // 8
    res = delete_range_from_manifest_sink(spark, d, "doc_id", hi=bound)
    if not res["dropped_files"]:
        raise ValueError(f"no metadata-only drop despite a covered file: {res}")
    if not res["rewritten_files"]:
        raise ValueError(f"the straddling file was not rewritten: {res}")
    if res["scanned_files"] >= res["total_files"]:
        raise ValueError(f"the proof ladder scanned everything: {res}")
    after = {os.path.basename(f) for f in resolve_manifest_files(d)}
    untouched = before - set(res["dropped_files"]) - set(res["rewritten_files"])
    if not untouched <= after:
        raise ValueError("an untouched file vanished from the snapshot")
    back = read_manifest_sink(spark, d)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_column_mapping_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
""",
)
def q_manifest_column_mapping_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RENAME/DROP COLUMN through the log (sources/pysink.py
    rename_column_manifest_sink / drop_column_manifest_sink — Delta's
    column mapping, name mode; the reference has no schema-evolution
    story, extension surface): the EVEN-doc_id half of ``documents``
    lands with stats, then ``n_chars`` is RENAMED to ``char_count`` and
    ``source`` is DROPPED — two zero-file metadata commits (pinned:
    the data-file set is unchanged across both) — and the ODD half
    appends UNDER THE NEW SCHEMA. One read then spans both eras:
    old-era files still carry the physical name ``n_chars``, new-era
    files stage under the same immutable physical name, and the logical
    view is ``char_count`` everywhere. Pins: time travel to v1 shows
    the pre-rename columns (mapping is version-pinned); an ``is_null``
    prune on the LOGICAL name reaches the physical stats of BOTH eras
    (kept == [] — no file has a null, proving stats stay keyed across
    the rename); the dropped column is gone from the final read. The
    oracle replays the logical content in SQL; the value hash proves no
    row or value drifted through the mapping. At 100 TB a rename is one
    JSON write — zero data files read, copied, or rewritten."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        drop_column_manifest_sink,
        prune_manifest_files,
        read_manifest_sink,
        rename_column_manifest_sink,
        resolve_manifest_files,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "source"
    )
    d = _scratch("manifest_colmap", sf_dir)
    docs.filter(F.col("doc_id") % 2 == 0).repartition(2).write.format(
        "manifestsink"
    ).option("path", d).option("statsColumns", "doc_id,n_chars").mode(
        "append"
    ).save()
    before = sorted(resolve_manifest_files(d))
    rename_column_manifest_sink(d, "n_chars", "char_count")
    drop_column_manifest_sink(d, "source")
    if sorted(resolve_manifest_files(d)) != before:
        raise ValueError("rename/drop touched data files (must be metadata-only)")
    old = read_manifest_sink(spark, d, version=1)
    if old.columns != ["doc_id", "lang", "n_chars", "source"]:
        raise ValueError(f"time travel lost the pre-rename schema: {old.columns}")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.col("n_chars").alias("char_count")
    ).repartition(2).write.format("manifestsink").option("path", d).option(
        "statsColumns", "doc_id,char_count"
    ).mode("append").save()
    kept, total = prune_manifest_files(d, {"char_count": "is_null"})
    if kept or total != 4:
        raise ValueError(
            f"logical-name stats pruning broke across the rename: "
            f"{len(kept)}/{total} kept"
        )
    back = read_manifest_sink(spark, d)
    if back.columns != ["doc_id", "lang", "char_count"]:
        raise ValueError(f"mapped read has wrong columns: {back.columns}")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("char_count").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_partition_values_pruned_read",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE lang = (SELECT min(lang) FROM documents)
GROUP BY lang
""",
)  # three smallest langs land; the target is min(lang), inside them
def q_manifest_partition_values_pruned_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-values tier in the manifest log (sources/pysink.py
    ``option("partitionColumns", ...)`` — the Hive/Delta partition-
    pruning idea carried in the LOG, no directory layout needed; the
    reference's Glue partition registry is the catalog-level cousin,
    SURVEY §2 G1-G7): ``documents`` lands one file per ``lang``, the
    writer PROVING the one-value-per-file layout at stage time and
    recording the exact value. Every file spans the full ``doc_id``
    domain ON PURPOSE, so the min/max tier keeps everything (pinned
    in-query: a doc_id range prunes nothing) while a ``lang`` point
    predicate prunes to EXACTLY ONE file from metadata alone (pinned:
    kept == 1 of n_langs, and the pruned read returns precisely that
    partition's rows — superset contract end-to-end with the real
    filter applied on top). The oracle computes the same
    smallest-lang slice in SQL; the value hash proves the pruned read
    lost and leaked nothing. At 100 TB ``WHERE date = X`` on a
    date-partitioned table is a metadata operation — O(files-of-X)
    scanned, not O(table) — independent of how wide each file's data
    columns range."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        prune_manifest_files,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    alldocs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_partvals", sf_dir)
    langs = sorted(
        r.lang for r in alldocs.select("lang").distinct().collect()
    )[:3]
    docs = alldocs.filter(F.col("lang").isin(langs))
    for lang in langs:  # one file per partition value, proven at staging
        docs.filter(F.col("lang") == lang).repartition(1).write.format(
            "manifestsink"
        ).option("path", d).option("statsColumns", "doc_id").option(
            "partitionColumns", "lang"
        ).mode("append").save()
    target = langs[0]
    # the range tier alone CANNOT isolate one file on this layout: the
    # interquartile doc_id span keeps several files (every lang spreads
    # over the id domain), where the partition tier below keeps ONE
    lo_hi = docs.agg(
        F.expr("percentile(doc_id, 0.25)").alias("lo"),
        F.expr("percentile(doc_id, 0.75)").alias("hi"),
    ).collect()[0]
    kept_range, total = prune_manifest_files(
        d, {"doc_id": (int(lo_hi["lo"]), int(lo_hi["hi"]))}
    )
    if total != len(langs) or len(kept_range) < 2:
        raise ValueError(
            f"doc_id ranges should overlap across files: "
            f"{len(kept_range)}/{total} kept"
        )
    # the partition tier prunes to exactly the holder
    kept, _ = prune_manifest_files(d, {"lang": [(target, target)]})
    if len(kept) != 1:
        raise ValueError(
            f"partition-value pruning kept {len(kept)} files for one lang"
        )
    back = read_manifest_sink(
        spark, d, prune={"lang": [(target, target)]}
    ).filter(F.col("lang") == target)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_stream_merge_roundtrip",
    sql="""
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT doc_id, lang,
    CASE WHEN doc_id // w.w = 0 THEN n_chars + 1000000
         WHEN doc_id // w.w = 1 THEN n_chars + 2000000
         WHEN doc_id // w.w = 2 THEN n_chars + 3000000
         ELSE n_chars END AS n_chars
  FROM documents,
       (SELECT LEAST(100, count(*) // 4) AS w FROM documents) w
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(2000000000 AS BIGINT), 'zz', CAST(1000 AS BIGINT)),
    (CAST(2000000001 AS BIGINT), 'zz', CAST(1001 AS BIGINT)),
    (CAST(2000000002 AS BIGINT), 'zz', CAST(1002 AS BIGINT)))
)
GROUP BY lang
""",
)
def q_manifest_stream_merge_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming MERGE end-to-end — the CDC-ingest-to-lakehouse loop
    every real pipeline runs (Delta's foreachBatch-merge pattern,
    composing r15's transparent conflict retry): a landing zone of
    keyed-update files is tailed with ``maxFilesPerTrigger=1`` +
    availableNow, and each micro-batch is MERGEd into a range-clustered
    manifest table (``merge_into_manifest_sink`` inside
    ``foreachBatch``) — batch k updates the ``doc_id % 7 == k`` slice
    and inserts one fresh key, so every merge exercises both arms
    (update + insert).
    Pins, in-query: (1) each landed file ran as its OWN merge commit
    (len(versions) == n_files, versions strictly increasing); (2)
    crash→restart replay is IDEMPOTENT — re-merging the LAST batch's
    file verbatim (what a restarted stream would do after a crash
    between merge and offset commit) leaves the one-row table aggregate
    bit-identical; (3) each merge is exactly ONE consecutively-claimed
    commit that PRUNED (candidates < total — each batch's contiguous
    ≤100-key slice keeps the merge in exact point-predicate mode, so a
    streamed CDC merge costs O(files-holding-its-keys) at every scale;
    the full-width arm lives in manifest_merge_upsert_roundtrip). The
    oracle replays the final state in SQL —
    the update slices are disjoint so replay order is irrelevant — and
    the value hash proves the streamed merges equal the set-based
    truth. At 100 TB each micro-batch merge costs O(files holding its
    keys), and a lost CAS to a concurrent writer re-claims
    transparently instead of crashing the stream."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        merge_into_manifest_sink,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _scratch("manifest_stream_merge", sf_dir)
    d = os.path.join(base, "table")
    landing = os.path.join(base, "landing")
    ck = os.path.join(base, "ckpt")
    docs.repartitionByRange(4, "doc_id").write.format("manifestsink").option(
        "path", d
    ).option("statsColumns", "doc_id").option("format", "parquet").mode(
        "append"
    ).save()
    os.makedirs(landing, exist_ok=True)
    # contiguous <=100-key slices (count-relative at tiny SFs): each
    # batch stays in the merge's EXACT point-predicate mode at every
    # scale, so pruning is outlier-immune and candidates < total is a
    # stable pin (the full-width arm is manifest_merge_upsert_roundtrip).
    # All three batch files land in ONE partitioned write job
    # (partitionBy strips the batch key from the data files), then
    # driver-side renames flatten them into the landing zone — the same
    # one-job landing trick as flagship_v2_stream_foreachbatch.
    w = min(100, docs.count() // 4)
    batches = [
        docs.filter(
            (F.col("doc_id") >= k * w) & (F.col("doc_id") < (k + 1) * w)
        )
        .withColumn(
            "n_chars", (F.col("n_chars") + 1000000 * (k + 1)).cast("long")
        )
        .unionByName(
            local_relation_df(spark, 
                [(2000000000 + k, "zz", 1000 + k)],
                "doc_id long, lang string, n_chars long",
            )
        )
        .withColumn("batch", F.lit(k))
        for k in range(3)
    ]
    allupd = batches[0].unionByName(batches[1]).unionByName(batches[2])
    staging = os.path.join(base, "staging")
    allupd.repartition(F.col("batch")).write.partitionBy("batch").parquet(
        staging
    )
    for k in range(3):
        (part,) = glob(os.path.join(staging, f"batch={k}", "*.parquet"))
        os.rename(part, os.path.join(landing, f"updates-{k:03d}.parquet"))
    merges: list[dict] = []

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        merges.append(merge_into_manifest_sink(spark, d, batch, ["doc_id"]))

    (
        spark.readStream.schema("doc_id long, lang string, n_chars long")
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    if len(merges) != 3:
        raise ValueError(f"3 landed files ran as {len(merges)} merge batches")
    versions = [m["version"] for m in merges]
    # each micro-batch = exactly ONE commit, consecutively claimed (a
    # transparent re-claim never double-commits); the %7 slices span
    # every range file by design, so the full-width case is exercised
    # here and the pruning pin lives in manifest_merge_upsert_roundtrip
    if versions != list(range(versions[0], versions[0] + 3)):
        raise ValueError(f"merge commits not consecutive: {versions}")
    if any(m["candidate_files"] >= m["total_files"] for m in merges):
        raise ValueError(
            f"a range-local merge pruned nothing on the clustered layout: "
            f"{merges}"
        )
    back = read_manifest_sink(spark, d)
    agg_cols = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("doc_id").cast("long").alias("si"),
        F.sum("n_chars").cast("long").alias("sc"),
    ]
    before = back.agg(*agg_cols).collect()
    # crash→restart replay: the engine re-runs the LAST micro-batch when
    # it crashed between the merge and the offset commit — re-merging
    # the same updates must be a no-op on the table's CONTENT
    replay = spark.read.parquet(os.path.join(landing, "updates-002.parquet"))
    merge_into_manifest_sink(spark, d, replay, ["doc_id"])
    after = read_manifest_sink(spark, d).agg(*agg_cols).collect()
    if before != after:
        raise ValueError(
            f"replaying the last merge batch changed the table: "
            f"{before} -> {after}"
        )
    return read_manifest_sink(spark, d).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_describe_detail_report",
    sql="""
SELECT CAST(4 AS BIGINT) AS version,
  3 AS n_files,
  CAST(count(*) AS BIGINT) AS n_rows,
  'doc_id,lang,char_count' AS columns_csv,
  'char_count,doc_id' AS stats_columns_csv,
  'lang' AS partition_columns_csv,
  1 AS n_renamed_columns,
  CAST(count(DISTINCT lang) + 1 AS BIGINT) AS n_commits
FROM documents
WHERE lang IN (SELECT lang FROM documents GROUP BY lang ORDER BY lang LIMIT 3)
""",
)
def q_manifest_describe_detail_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DESCRIBE DETAIL (sources/pysink.py describe_manifest_detail —
    Delta's one-row table summary): the three smallest ``lang``
    partitions of ``documents`` land one file each (partition values +
    doc_id/n_chars stats recorded), ``n_chars`` is renamed to
    ``char_count``, and the detail row must report the resolved truth:
    version, file count, TOTAL ROWS summed from per-file stats row
    counts (the oracle recomputes it from the source — proving the
    metadata row count equals the data), the LOGICAL column list and
    tier coverage under post-rename names, and the mapping counts.
    Location/size/checkpoint columns are projected away (machine-local
    by nature); everything kept is a pure function of the data and the
    op sequence. Metadata-class: the detail never opens a data file."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        describe_manifest_detail,
        rename_column_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_detail", sf_dir)
    langs = sorted(r.lang for r in docs.select("lang").distinct().collect())[:3]
    for lang in langs:
        docs.filter(F.col("lang") == lang).repartition(1).write.format(
            "manifestsink"
        ).option("path", d).option("statsColumns", "doc_id,n_chars").option(
            "partitionColumns", "lang"
        ).mode("append").save()
    rename_column_manifest_sink(d, "n_chars", "char_count")
    return describe_manifest_detail(spark, d).select(
        "version",
        "n_files",
        "n_rows",
        "columns_csv",
        "stats_columns_csv",
        "partition_columns_csv",
        "n_renamed_columns",
        F.col("n_commits").cast("long").alias("n_commits"),
    )


@_register(
    "manifest_clone_divergence",
    sql="""
SELECT src, lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT 'clone' AS src, lang, doc_id,
    CASE WHEN doc_id % 17 = 0 AND doc_id < 100 THEN n_chars + 900000
         ELSE n_chars END AS n_chars
  FROM documents
  UNION ALL
  SELECT 'source', lang, doc_id, n_chars FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    ('clone', 'zz', CAST(3000000001 AS BIGINT), CAST(11 AS BIGINT)),
    ('source', 'yy', CAST(4000000001 AS BIGINT), CAST(13 AS BIGINT)))
)
GROUP BY src, lang
""",
)
def q_manifest_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy CLONE + independent evolution (sources/pysink.py
    clone_manifest_sink — Delta's ``CREATE TABLE ... CLONE``):
    ``documents`` lands range-clustered with stats, a SHALLOW clone
    publishes ONE metadata commit referencing the source files
    absolutely (pinned in-query: the clone dir holds zero data files),
    then the two tables DIVERGE — a merge updates the low-range 17th
    docs and inserts one key in the CLONE, while the source gets its
    own append (the update keys are range-local ON PURPOSE, so the
    candidate<total pin proves point-mode pruning works through the
    re-keyed clone references at any scale factor).
    The merge against cloned references must still stats-prune (pinned:
    candidates < total) and copy-on-write only the touched files. The
    oracle replays both divergent states in SQL and the value hash
    compares them side-by-side — any leakage across the clone boundary,
    in either direction, diverges immediately. At 100 TB a clone is one
    JSON write; dev/test forks of a production table cost zero data
    movement until they diverge, and then only O(touched files)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        clone_manifest_sink,
        merge_into_manifest_sink,
        read_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_clone", sf_dir)
    src, dst = os.path.join(d, "src"), os.path.join(d, "clone")
    docs.repartitionByRange(4, "doc_id").write.format("manifestsink").option(
        "path", src
    ).option("statsColumns", "doc_id").option("format", "parquet").mode(
        "append"
    ).save()
    clone_manifest_sink(src, dst)
    if [n for n in os.listdir(dst) if not n.startswith(("_", "."))]:
        raise ValueError("a shallow clone must copy zero data files")
    # clone-side merge: update every 17th doc, insert one new key
    updates = (
        docs.filter((F.col("doc_id") % 17 == 0) & (F.col("doc_id") < 100))
        .withColumn("n_chars", (F.col("n_chars") + 900000).cast("long"))
        .unionByName(
            local_relation_df(spark, 
                [(3000000001, "zz", 11)], "doc_id long, lang string, n_chars long"
            )
        )
    )
    res = merge_into_manifest_sink(spark, dst, updates, ["doc_id"])
    if res["candidate_files"] >= res["total_files"]:
        raise ValueError(
            f"merge against cloned references failed to stats-prune: {res}"
        )
    # source-side divergence: its own append
    local_relation_df(spark, 
        [(4000000001, "yy", 13)], "doc_id long, lang string, n_chars long"
    ).repartition(1).write.format("manifestsink").option("path", src).option(
        "format", "parquet"
    ).mode("append").save()
    both = read_manifest_sink(spark, dst).withColumn(
        "src", F.lit("clone")
    ).unionByName(
        read_manifest_sink(spark, src).withColumn("src", F.lit("source"))
    )
    return both.groupBy("src", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "manifest_stream_change_feed",
    sql="""
SELECT _change_type, _commit_version, lang,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version,
         lang, doc_id, n_chars
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 'insert', 2, lang, doc_id, n_chars
  FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT 'delete', 3, lang, doc_id, n_chars
  FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT 'insert', 3, lang, doc_id, n_chars
  FROM documents WHERE doc_id % 2 = 1 AND NOT (doc_id % 5 = 0)
)
GROUP BY _change_type, _commit_version, lang
""",
)
def q_manifest_stream_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CHANGE DATA FEED (sources/pysink.py
    ManifestLogStreamReader readChangeFeed=true — Delta's
    ``readChangeFeed`` re-expressed): commits v1/v2 land the even/odd
    halves of ``documents``, a DELETE of the odd multiples of 5
    publishes a REPLACE at v3, and ONE feed reader consumes all three —
    appends as insert rows, the replace as its removed file's rows
    (delete) plus its staged survivors (insert), each row tagged with
    ``_change_type`` and ``_commit_version`` (``_commit_timestamp``
    rides along, checked non-null in-query, excluded from the hash as
    wall-clock). Without the feed the same replace RAISES mid-stream
    (pinned by a sibling test) — this is the operator that lets a
    100 TB downstream consumer follow row-level updates incrementally,
    reading O(changed files) per batch. The oracle replays the feed's
    file-diff semantics in SQL; the value hash proves classification,
    versions, and exactly-once delivery together."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestLogDataSource,
        ManifestSinkDataSource,
        delete_from_manifest_sink,
    )

    spark.dataSource.register(ManifestSinkDataSource)
    spark.dataSource.register(ManifestLogDataSource)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = _scratch("manifest_stream_cdf", sf_dir)
    log, out, ckpt = (os.path.join(d, x) for x in ("log", "out", "ckpt"))
    for half in (0, 1):  # v1, v2 — one file each
        docs.filter(F.col("doc_id") % 2 == half).repartition(1).write.format(
            "manifestsink"
        ).option("path", log).mode("append").save()
    delete_from_manifest_sink(spark, log, "doc_id % 2 = 1 AND doc_id % 5 = 0")
    (
        spark.readStream.format("manifestlog")
        .option("path", log)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(
            lambda b, _e: b.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    feed = spark.read.parquet(out)
    if feed.filter(F.col("_commit_timestamp").isNull()).count():
        raise ValueError("every commit in this log records a timestamp")
    return feed.groupBy("_change_type", "_commit_version", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@_register(
    "stream_manifest_compaction_roundtrip",
    sql="""
SELECT CAST(i % 16 AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(i) AS BIGINT) AS sum_ids,
  CAST(sum(8 + (CAST(concat('0x', substring(md5(CAST(i AS VARCHAR)), 1, 2))
                     AS INT) % 25)) AS BIGINT) AS sum_tokens
FROM range(0, 1200) t(i)
GROUP BY 1
""",
)
@_with_stream_shuffle
def q_stream_manifest_compaction_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-LOG COMPACTION -> RETENTION end to end (sources/pysink.py
    compact_stream_manifests): the synthdocs Python stream source feeds
    the manifest stream sink in three availableNow runs on one
    checkpoint (batches 0/1/2 of 400 rows each, exactly-once per-batch
    manifests), then batches <= 1 are compacted into ONE BASE manifest —
    metadata only, no data file touched — after which
    ``expire_manifest_versions`` (illegal on a raw all-delta stream log)
    and ``vacuum_manifest_sink`` run legally below the base. The
    readback resolves base+delta and the value hash proves compaction,
    expiry, and vacuum changed NOTHING about the visible rows: the
    oracle replays the generator's closed form over range(0,1200). This
    is how streamed history becomes expirable at 100 TB without a
    TTL-sweep footgun."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pydatasource import (
        SynthDocsDataSource,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestSinkDataSource,
        compact_stream_manifests,
        expire_manifest_versions,
        read_manifest_sink,
        vacuum_manifest_sink,
    )

    spark.dataSource.register(SynthDocsDataSource)
    spark.dataSource.register(ManifestSinkDataSource)
    d = _scratch("stream_manifest_compaction", sf_dir)
    out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")

    def run_once(target_rows: int) -> None:
        s = (
            spark.readStream.format("synthdocs")
            .option("target_rows", target_rows)
            .option("n_partitions", 3)
            .load()
        )
        (
            s.writeStream.format("manifestsink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    for target in (400, 800, 1200):  # -> batches 0, 1, 2
        run_once(target)
    compact_stream_manifests(out, upto_batch=1)
    expire_manifest_versions(out, min_version=1)  # legal now: floor is a base
    vacuum_manifest_sink(out, grace_seconds=0)  # all survivors referenced
    back = read_manifest_sink(spark, out)  # base(0..1) + delta batch 2
    return back.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


@_register(
    "footer_skipping_report",
    sql="""
SELECT CAST(doc_id % 4 AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(min(doc_id) AS BIGINT) AS min_id,
  CAST(max(doc_id) AS BIGINT) AS max_id
FROM documents
GROUP BY 1
""",
)
def q_footer_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-statistics data-skipping report (sources/parquet.py
    footer_stats_report): ``documents`` landed partitioned by
    ``bucket = doc_id % 4``, then the per-file (n_rows, min, max) of
    doc_id is read FROM THE PARQUET FOOTERS ONLY — distributed
    metadata pass, zero data pages — rolled up per bucket and attested
    against the table-scan truth (the oracle). Equality proves the
    writer's footer stats describe the data exactly, which is the
    entire premise of min/max file skipping: a layout whose footers
    lied would pass a scan-based test and silently break pruning at
    100 TB."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import footer_stats_report

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 4).alias("bucket")
    )
    d = _scratch("footer_stats", sf_dir)
    docs.repartition(4, "bucket").write.partitionBy("bucket").parquet(d)
    rep = footer_stats_report(spark, d, "doc_id")
    return (
        rep.withColumn(
            "bucket", F.regexp_extract("path", r"bucket=(\d+)", 1).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min(F.col("min_value").cast("long")).alias("min_id"),
            F.max(F.col("max_value").cast("long")).alias("max_id"),
        )
    )
