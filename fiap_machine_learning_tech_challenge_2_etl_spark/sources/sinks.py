"""Partitioned parquet sinks (SURVEY.md section 2.2, K1-K4).

The reference writes refined data two ways: a Glue sink with catalog
auto-update (etl/etl.py:94-107) and a plain partitioned DataFrame write
(etl/transform_1.py:108-115), both snappy parquet with dynamic partition
overwrite (etl/transform_1.py:40). Here both collapse to native Spark:
``write.partitionBy(...).parquet`` for path-based output and
``saveAsTable`` for catalog-managed output.

Scale notes (100 TB): dynamic partition overwrite rewrites ONLY the
partitions present in the incoming batch — the incremental write pattern.
``target_file_partitions`` optionally repartitions by the partition columns
before the write so each output partition is produced by few tasks (avoids
the tiny-files explosion: tasks x partitions output files). AQE coalescing
keeps post-shuffle partitions sane.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    mode: str = "overwrite",
    compression: str = "snappy",
    coalesce_output: bool = True,
    fmt: str = "parquet",
) -> None:
    """K1/K2/K3 — partitioned snappy parquet write with dynamic overwrite.

    Mirrors reference etl/transform_1.py:108-115 (write.partitionBy mode
    overwrite|append) under the session conf
    spark.sql.sources.partitionOverwriteMode=dynamic (etl/transform_1.py:40,
    set by our session factory), so ``overwrite`` touches only partitions
    present in ``df`` — K3's per-partition "upsert".

    ``fmt`` generalizes the sink to Spark's other columnar format
    ("orc" — same dynamic-overwrite and compression semantics; exercised
    end-to-end by the ``orc_sink_roundtrip`` registry query). Parquet
    stays the default analytic store.
    """
    if fmt not in ("parquet", "orc"):
        # the contract (dynamic partition overwrite + snappy + columnar
        # pruning on read-back) only holds for Spark's columnar formats;
        # text formats go through sources.text_formats' explicit sinks
        raise ValueError(f"fmt must be 'parquet' or 'orc', got {fmt!r}")
    out = df
    if coalesce_output and partition_by:
        # One shuffle keyed on the partition columns => each output dir is
        # written by a small number of tasks instead of every task writing a
        # sliver into every partition (file-count = O(partitions), not
        # O(tasks * partitions)).
        out = df.repartition(*partition_by)
    (
        out.write.mode(mode)
        .option("compression", compression)
        # writer-level option so the per-partition overwrite contract holds
        # even under a session that didn't set the ambient conf (a static
        # overwrite would delete the whole table root mid-read)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .format(fmt)
        .save(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    num_buckets: int,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed (hash-clustered) managed table — the co-located-join
    primitive. Two tables bucketed by the same key into the same bucket
    count join WITHOUT any exchange: each task reads matching bucket files
    from both sides (the physical plan shows no Exchange; verified in
    tests). At 100 TB this is how repeated fact-fact joins amortize their
    shuffle: pay it once at write time, never per query. ``sort_by``
    additionally pre-sorts within buckets so sort-merge joins skip the
    per-query sort."""
    writer = df.write.mode(mode).format("parquet").bucketBy(
        num_buckets, *bucket_by
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        # external bucketed table: data lands at an explicit location
        # instead of the session warehouse dir (which is cwd-relative on a
        # session that never configured spark.sql.warehouse.dir)
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def _fs_path_exists(spark, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API, so it works for
    any scheme the session can read (s3a://, hdfs://, file:), not just the
    driver's local disk — an os.path probe silently reports False on object
    stores, which would make an upsert drop every survivor row."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


# Past this many touched partitions the literal OR-chain partition filter
# becomes a plan-bloating mega-expression; switch to a broadcast semi-join
# on the partition tuple (runtime pruning) instead.
_MAX_LITERAL_PARTITION_FILTER = 100


def _merge_touched_partitions(
    spark,
    rows: DataFrame,
    path: str,
    partition_by: Sequence[str],
    survivors: Callable[[DataFrame], DataFrame],
    max_partitions: int | None = None,
    compression: str = "snappy",
    over_cap: str = "",
) -> None:
    """Read-modify-write of the partitions ``rows`` touches — the one
    skeleton behind ``upsert_by_key`` and the
    ``streaming.incremental.run_incremental_pipeline`` sink.

    ``survivors`` maps the existing rows of the touched partitions (an
    empty frame when ``path`` does not exist yet) to the full content
    those partitions hold after the merge; dynamic partition overwrite
    then rewrites only them. Cost is O(touched partitions + batch), never
    O(table). A batch touching no partition writes nothing. With
    ``max_partitions``, the driver-side probe collects at most the cap
    + 1 partition tuples and a batch over the cap raises
    ``ValueError(over_cap)`` before anything is read or written.

    The read-back is pinned to ``rows.schema``: inferring it would turn a
    string partition value such as ``"007"`` or ``"2024-01-02"`` into an
    int or date, and the rewrite would land it in a new directory
    (``code=7``) beside the untouched old one. Pruning has two regimes:
    up to ``_MAX_LITERAL_PARTITION_FILTER`` touched partitions a
    null-safe literal OR-chain (statically pruned at plan time;
    null-safe so the Hive default partition still matches); beyond it a
    literal mega-expression would bloat the plan, so the read becomes a
    broadcast LEFT SEMI join on the distinct partition tuples (runtime
    pruning through the broadcast hash join's pushed filter).
    """
    from pyspark.sql import functions as F

    rows = rows.persist()  # read twice: partition probe + merge/write
    try:
        parts = rows.select(*partition_by).distinct()
        probe = parts if max_partitions is None else parts.limit(max_partitions + 1)
        touched = probe.collect()
        if not touched:
            return
        if max_partitions is not None and len(touched) > max_partitions:
            raise ValueError(over_cap)
        existing = rows.limit(0)
        if _fs_path_exists(spark, path):
            existing = spark.read.schema(rows.schema).parquet(path)
            if len(touched) <= _MAX_LITERAL_PARTITION_FILTER:
                pfilter = F.lit(False)
                for vals in touched:
                    clause = F.lit(True)
                    for c, v in zip(partition_by, vals):
                        clause = clause & F.col(c).eqNullSafe(F.lit(v))
                    pfilter = pfilter | clause
                existing = existing.filter(pfilter)
            else:
                cond = F.lit(True)
                for c in partition_by:
                    cond = cond & existing[c].eqNullSafe(parts[c])
                existing = existing.join(F.broadcast(parts), on=cond, how="left_semi")
        merged = survivors(existing.select(*rows.columns))
        write_partitioned_parquet(merged, path, partition_by, compression=compression)
    finally:
        rows.unpersist()


def upsert_by_key(
    spark,
    new_rows: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str],
    compression: str = "snappy",
    order_col: str | None = None,
) -> None:
    """Keyed MERGE/upsert into a partitioned parquet table: rows in
    ``new_rows`` replace existing rows with the same ``keys``; other rows
    in the touched partitions survive; untouched partitions are never read
    or written.

    ``order_col`` upgrades blind replacement to VERSIONED merge: the
    survivor per key is the row with the highest ``order_col`` across
    existing AND incoming rows (ties break deterministically on the
    remaining orderable columns descending — so for a given delivered
    row set the surviving PAYLOAD is batching-independent too — with
    incoming-wins only as the final fallback between rows
    indistinguishable on every orderable column). Without it, a late redelivery of an OLD version replaces the
    newer row already in the table — the result would depend on which
    batch a file happened to land in. Existing rows whose key is absent
    from the batch skip the version window entirely (semi/anti-join
    split), so the window shuffles only the CONTESTED slice, not every
    row of every touched partition. Rows with a NULL key are never
    merged — they pass through on both sides, matching the blind mode's
    null-never-matches anti-join semantics. Unorderable columns (maps,
    or structs/arrays containing them) are skipped in the tiebreak.

    PRECONDITION (both modes, enforced by scale, documented here): the
    partition columns must be STABLE across versions of one key (key ->
    partition is functionally dependent, e.g. partition derives from an
    immutable attribute). Only partitions touched by the incoming batch
    are ever read, so a version that moves a key to a new partition
    cannot see — and therefore cannot retire — the copy in the old
    partition. Reading the whole table to chase moved keys would be
    O(table) per batch, which is exactly what this sink exists to avoid;
    use a compaction pass for genuinely partition-mobile keys.

    This is the row-level semantics the reference's Glue sink gestures at
    with UPDATE_IN_DATABASE (etl/etl.py:94-107, which actually only
    upserts whole partitions) done properly on plain parquet, through
    ``_merge_touched_partitions``: the touched partitions are read back
    under ``new_rows``' schema (never an inferred one, so a partition
    value like ``"007"`` keeps its directory), existing rows matching an
    incoming key are anti-joined out, and dynamic partition overwrite
    rewrites only those partitions. The key joins carry no broadcast
    hint: AQE broadcasts the batch's distinct keys when small (the
    common incremental case) and degrades a giant backfill batch to a
    shuffle join instead of a forced-broadcast driver OOM.
    """
    new_keys = new_rows.select(*keys).distinct()

    def survivors(existing: DataFrame) -> DataFrame:
        if order_col is None:
            kept = existing.join(new_keys, on=list(keys), how="left_anti")
            return kept.unionByName(new_rows)
        # only CONTESTED existing rows (key present in the batch) enter
        # the version window; the rest survive untouched, as in blind mode
        contested = existing.join(new_keys, on=list(keys), how="left_semi")
        uncontested = existing.join(new_keys, on=list(keys), how="left_anti")
        return uncontested.unionByName(
            _versioned_winners(contested, new_rows, keys, order_col)
        )

    _merge_touched_partitions(
        spark, new_rows, path, partition_by, survivors, compression=compression
    )


def _is_orderable(dt) -> bool:
    """Whether Spark can sort on a column of this type (RowOrdering
    semantics): maps are unorderable, and so is any struct/array that
    CONTAINS a map at any depth."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _is_orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_is_orderable(f.dataType) for f in dt.fields)
    return True


def _versioned_winners(
    existing: DataFrame | None,
    new_rows: DataFrame,
    keys: Sequence[str],
    order_col: str,
) -> DataFrame:
    """One row per key: highest ``order_col`` across existing + incoming
    rows; ties break deterministically on the remaining ORDERABLE columns
    descending (maps — and structs/arrays containing them — can't order
    and are skipped), with incoming-wins only as the last resort between
    bit-identical rows, so equal-version outcomes don't depend on which
    batch delivered which row. NULL-key rows bypass the window on both
    sides (a window would collapse all of them to one survivor; the
    blind mode's anti-join never matches nulls, and this path must
    agree)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    reserved = {"__is_new", "__rn"} & set(new_rows.columns)
    if reserved:
        raise ValueError(
            f"column names {sorted(reserved)} are reserved by "
            "upsert_by_key's versioned merge; rename them"
        )
    merged = new_rows.withColumn("__is_new", F.lit(1))
    if existing is not None:
        merged = existing.withColumn("__is_new", F.lit(0)).unionByName(merged)
    null_key = F.lit(False)
    for k in keys:
        null_key = null_key | F.col(k).isNull()
    passthrough = merged.filter(null_key).drop("__is_new")
    keyed = merged.filter(~null_key)
    unorderable = {
        f.name for f in new_rows.schema.fields if not _is_orderable(f.dataType)
    }
    tiebreak = [
        F.col(c).desc_nulls_last()
        for c in new_rows.columns
        if c not in set(keys) and c != order_col and c not in unorderable
    ]
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc_nulls_last(), *tiebreak, F.col("__is_new").desc()
    )
    winners = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__is_new")
    )
    return winners.unionByName(passthrough)


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    n_files: int,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Range-clustered data layout: repartitionByRange on the cluster keys
    then sortWithinPartitions before the write, so each output file holds a
    disjoint, sorted key range.

    This is the zone-map layout: parquet footers carry per-file/row-group
    min-max on the cluster keys, and because ranges are DISJOINT a point or
    range predicate prunes to the few files that can contain it — the
    poor-man's Z-order, exact for a single cluster dimension. At 100 TB the
    read amplification win is the difference between scanning one file and
    scanning all of them; the cost is one range-exchange at write time
    (sampled range boundaries, skew-tolerant). The reference has no layout
    control at all beyond directory partitioning (SURVEY.md section 2.2).
    """
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in cluster_by]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int,
    bits: int = 8,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Z-order (Morton-interleaved) multi-dimensional clustering — the
    multi-column upgrade of ``write_range_clustered``'s single-dimension
    layout (the reference has no layout control at all, SURVEY.md §2.2).

    Each cluster column is mapped to a ``2^bits``-cell grid between its
    global min and max (ONE scalar aggregate — metadata-sized, never a
    sort), the per-column cell ids are bit-interleaved into a Morton key
    with plain JVM shift/or expressions, and the frame is range-partitioned
    + sorted on that key. Because the Morton curve preserves locality in
    EVERY clustered dimension at once, parquet min-max footers stay tight
    on ALL of ``cols`` simultaneously — a 2-D box predicate prunes files
    the way a 1-D range does under range clustering. At 100 TB this is the
    difference between "prunes on the lead column only" (lexicographic
    sort) and "prunes on any clustered column" — the standard layout for
    multi-key scan workloads. Cost: one scalar agg + one range exchange at
    write time.
    """
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    bounds = df.agg(*aggs).first()  # one job, one row — metadata decision

    ncells = 1 << bits
    cell_cols = []
    for c in cols:
        mn = float(bounds[f"__mn_{c}"])
        mx = float(bounds[f"__mx_{c}"])
        span = (mx - mn) or 1.0
        cell = F.least(
            F.lit(ncells - 1),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * ncells),
        ).cast("long")
        cell_cols.append(cell)

    ndim = len(cols)
    zkey = F.lit(0).cast("long")
    for d, cell in enumerate(cell_cols):
        for i in range(bits):
            # bit i of dimension d lands at interleaved position i*ndim + d
            zkey = zkey.bitwiseOR(
                F.shiftleft(
                    F.shiftright(cell, i).bitwiseAND(F.lit(1)), i * ndim + d
                )
            )

    (
        df.withColumn("__zkey", zkey)
        .repartitionByRange(n_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .option("compression", compression)
        .parquet(path)
    )


def compact_parquet_dir(
    spark,
    path: str,
    target_rows_per_file: int,
    compression: str = "snappy",
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(rows / target_rows_per_file)`` evenly-sized files and swap it
    into place. Returns the new file count.

    The small-files problem is THE operational failure mode of long-lived
    incremental sinks (every micro-batch/upsert appends a sliver; a year
    later the table is a million 100 KB files and the NameNode/listing/
    task-scheduling overhead dwarfs the data). Compaction is the standard
    maintenance op (cf. Delta OPTIMIZE, Iceberg rewrite_data_files),
    expressed here Spark-native.

    Scale posture: one round-robin repartition (no key skew by
    construction — round-robin is uniform) and one write; the swap is a
    metadata rename. Row-count-based sizing keeps the result deterministic
    for testing; production would size by bytes
    (``spark.sql.files.maxRecordsPerFile`` after sampling row width, or
    AQE-coalesced rewrite per table partition). For a partitioned table,
    run per-partition so only fragmented partitions pay the rewrite.
    """
    import math
    import shutil

    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    tmp = path.rstrip("/") + "__compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(tmp)
    )
    # local-FS swap; on an object store this would be a staged directory
    # rename or a transactional table-format commit (Delta/Iceberg snapshot)
    shutil.rmtree(path)
    shutil.move(tmp, path)
    return n_files
