"""Parallelism + input-validation utilities shared by operators."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Spark SQL interval unit keywords (singular; plural accepted too).
_INTERVAL_UNITS = frozenset(
    {
        "year",
        "month",
        "week",
        "day",
        "hour",
        "minute",
        "second",
        "millisecond",
        "microsecond",
    }
)
# fractional magnitudes are legal SQL ("INTERVAL 0.5 SECONDS" parses);
# rejecting them here would narrow behavior callers had before validation
_INTERVAL_PAIR = re.compile(r"^\d+(\.\d+)?$")


def validate_interval_body(value: str, param: str) -> str:
    """Validate a SQL INTERVAL body (e.g. ``"24 HOURS"``,
    ``"1 HOUR 30 MINUTES"``) BEFORE it is interpolated into ``F.expr``.

    ``F.expr(f"INTERVAL {value}")`` is lazy — a malformed body only fails
    at analysis time with a generic parse error far from the call site
    (and naming no parameter). Fail eagerly here with the parameter name
    instead. Negative magnitudes are rejected by shape (callers that want
    a dedicated negative-value message check sign first). Returns the
    value unchanged so call sites can validate inline."""
    tokens = value.split()
    ok = len(tokens) >= 2 and len(tokens) % 2 == 0
    if ok:
        for mag, unit in zip(tokens[::2], tokens[1::2]):
            if not _INTERVAL_PAIR.match(mag):
                ok = False
                break
            if unit.lower().rstrip("s") not in _INTERVAL_UNITS:
                ok = False
                break
    if not ok:
        raise ValueError(
            f"{param} must be a SQL INTERVAL body like '24 HOURS' or "
            f"'1 HOUR 30 MINUTES', got {value!r}"
        )
    return value


def reject_reserved(df: DataFrame, *names: str) -> None:
    """Refuse inputs that already carry an operator's internal temp
    columns — ``withColumn`` would silently overwrite user data and the
    closing ``drop()``/``select`` would then delete or corrupt it (the
    contract established by ``sinks.upsert_by_key``'s __is_new/__rn
    guard). Raise loudly instead of producing a silently-wrong result."""
    hit = [n for n in names if n in df.columns]
    if hit:
        raise ValueError(f"input must not contain reserved column(s) {hit}")


def spread(df: DataFrame, by: str | None = None) -> DataFrame:
    """Ensure ``df`` carries at least the cluster's default parallelism
    before compute-heavy per-row work (hashing, shingle explodes, regex
    sweeps, vectorized UDF blocks).

    A small input — one tiny file, a single parquet row group — otherwise
    pins the whole downstream stage to ONE task no matter how many cores
    exist, because explode/withColumn never add partitions. The check uses
    ``inputFiles()`` (driver-side plan metadata: no job, no RDD conversion —
    ``df.rdd.getNumPartitions()`` costs ~1 s per call and can trigger AQE
    stage materialization), so on a real cluster, where inputs already span
    at least as many files as cores, this is a no-op and no blind shuffle is
    introduced. The explicit partition count also keeps AQE from coalescing
    the exchange back down to one task on small data.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # streaming / un-plannable inputs: leave untouched
        return df
    if n_files >= target:
        return df
    # Stacked ops that each call spread() (token stats -> quality ->
    # language id in one pipeline) would otherwise each add a full-width
    # round-robin exchange shipping the corpus again — the r16 plan audit
    # found corpus_clean_pipeline carrying THREE spread exchanges where
    # its docstring promised one shuffle total (guide §2.4: remove
    # shuffles outright). inputFiles() cannot see an upstream
    # repartition, so walk the logical plan for one that already fans
    # this lineage out to >= target partitions; smaller fixture
    # repartitions (repartition(1)/(4) file-count shaping) don't count.
    try:
        if _fanned_out(df._jdf.queryExecution().logical(), target):
            return df
    except Exception:  # Connect sessions etc.: fall through to repartition
        pass
    return df.repartition(target, by) if by is not None else df.repartition(target)


def _fanned_out(node, target: int) -> bool:
    """Whether the nearest repartition below ``node``, on some path, is a
    shuffle to at least ``target`` partitions. Each path stops at its first
    ``Repartition``/``RepartitionByExpression``: a ``coalesce(N)``
    (``Repartition`` without shuffle) or a narrower repartition above a wide
    one sets the partition count the next stage runs with. A
    ``repartition(col)`` without a count is not a fan-out either: AQE may
    coalesce it down to one partition."""
    name = node.nodeName()
    if name == "Repartition":
        return node.shuffle() and node.numPartitions() >= target
    if name == "RepartitionByExpression":
        n = node.optNumPartitions()
        return n.isDefined() and n.get() >= target
    kids = node.children()
    return any(_fanned_out(kids.apply(i), target) for i in range(kids.size()))


def local_relation_df(spark, rows, schema) -> DataFrame:
    """Build a small literal DataFrame as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list_of_rows)`` plans as a ``LogicalRDD`` over
    a pickled ``ParallelCollectionRDD``: every ACTION that evaluates the
    frame starts a Python worker to unpickle rows the driver already
    holds. Here the rows become a ``pyarrow.Table`` typed by Spark's own
    Arrow mapping of ``schema`` (a StructType or DDL string), which plans
    as a ``LocalRelation``: tasks never touch Python. Used for the
    <=128-row literal frames on the merge/report hot paths.

    Exact for every type: the Arrow arrays are built column by column from
    Python values, never through pandas, so a NULL beside a 64-bit integer
    stays an exact long and NaN stays apart from NULL. Values first pass
    through ``StructType.toInternal``, Spark's own Python-to-internal rule,
    so a naive ``datetime`` in a ``timestamp`` column means process-local
    wall time exactly as ``createDataFrame(rows)`` reads it (pyarrow alone
    would read it as UTC).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, StructType

    if not isinstance(schema, StructType):
        schema = DataType.fromDDL(schema)
    aschema = to_arrow_schema(schema)
    # rows -> columns; zero rows still need one (empty) column per field
    cols = list(zip(*(schema.toInternal(r) for r in rows))) or [()] * len(aschema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, aschema)], schema=aschema
    )
    return spark.createDataFrame(table, schema)
