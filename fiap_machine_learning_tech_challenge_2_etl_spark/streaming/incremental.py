"""Structured Streaming incrementality (SURVEY.md M6, section 2.12 O1/O6).

The reference's incremental unit is "one file landed on S3": an S3 event
fires a Lambda which starts a Glue job with the file's URI
(lambda/handler_last_date.py:23-42 -> etl/etl.py:14,29). The Spark-native
replacement is the Structured Streaming file source: the checkpoint
replaces Glue job bookmarks (job.init/commit, etl/etl.py:18-19,110), the
``availableNow`` trigger replaces the event hop (process everything new,
then stop — re-run on a schedule or keep running), and ``foreachBatch``
runs the SAME batch transform stages against each micro-batch with a
dynamic-partition-overwrite sink — one code path for batch and streaming.

Beyond reference parity (which has no in-engine streaming), the windowed/
sessionized aggregations and the custom stateful operator below are the
streaming extension surface: watermarks bound state for late data; the
session window is Spark-native; the running-stats operator shows
``applyInPandasWithState`` for semantics the built-ins don't cover.

Spark 4's ``transformWithStateInPandas`` (the successor API: typed
value/list/map state, timers, TTL) has a first-class twin operator,
``running_user_stats_tws``, plus GATED tests
(tests/test_catalog_streaming.py::test_transform_with_state_running_sum,
::test_tws_running_stats_parity): its state-server protocol needs
``google.protobuf``, which this container lacks and cannot install, so
the tests skip here and run wherever the dependency exists.
applyInPandasWithState remains the hermetic custom-stateful path.
"""

from __future__ import annotations

import os

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fiap_machine_learning_tech_challenge_2_etl_spark.util import validate_interval_body


def _parquet_stream(
    spark: SparkSession,
    schema: T.StructType,
    input_dir: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """File-source stream over a landing directory of parquet files,
    optionally capped at ``max_files_per_trigger`` files per micro-batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        if max_files_per_trigger <= 0:
            raise ValueError(
                f"max_files_per_trigger must be positive, got {max_files_per_trigger}"
            )
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def _drain_available_now(stream: DataFrame, fn, checkpoint_dir: str) -> None:
    """Run ``fn(batch_df, epoch_id)`` on every micro-batch not yet in
    ``checkpoint_dir`` and return once the backlog is drained."""
    (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_incremental_pipeline(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    transform: Callable[[DataFrame], DataFrame],
    output_dir: str,
    checkpoint_dir: str,
    partition_by: Sequence[str],
    max_files_per_trigger: int | None = None,
    max_partitions_per_batch: int = 10_000,
) -> None:
    """EP1 re-expressed: watch a directory of parquet files, run the batch
    transform on each micro-batch, MERGE into the partitioned output.

    ``availableNow`` drains everything not yet checkpointed and stops —
    exactly-once per file, like the reference's per-file Glue runs but
    without the Lambda/StepFn control plane. ``max_files_per_trigger``
    bounds micro-batch size for backfills (10^6 landed files won't be
    one giant batch).

    The sink is a TOUCHED-PARTITION MERGE, not a bare dynamic overwrite:
    a bare per-batch overwrite silently loses data whenever one output
    partition spans two micro-batches (batch 2 replaces the partition
    with only its own rows — exactly what maxFilesPerTrigger backfills
    and late-landing files produce). Each batch therefore (1) tags its
    rows with ``__ingest_epoch`` = the micro-batch epoch (reserved —
    raises if the transform output already carries it), (2) reads back
    ONLY the touched partitions, under the batch's own schema rather
    than an inferred one, (3) drops prior rows of the SAME epoch — that
    filter is what makes a replay after a mid-write crash idempotent
    instead of doubling the batch — and (4) dynamic-overwrites the
    touched partitions with survivors + new rows. Steps (2) and (4) are
    the read-modify-write skeleton ``sources.sinks.upsert_by_key`` also
    runs on. Cost is O(touched partitions + batch), never O(table);
    ``max_partitions_per_batch`` bounds the driver-side touched-partition
    probe the same way ``materialized_rollup`` bounds its day probe: a
    batch over it raises before anything is written, and the checkpoint
    does not commit it. Checkpoint and output directory are a unit:
    wiping the checkpoint but keeping the output restarts epochs at 0 and
    breaks the replay filter.
    """
    stream = _parquet_stream(spark, schema, input_dir, max_files_per_trigger)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import (
            _merge_touched_partitions,
        )

        transformed = transform(batch_df)
        if "__ingest_epoch" in transformed.columns:
            # reserved: withColumn would silently overwrite it and the
            # replay filter below would misread user data as epoch tags
            raise ValueError(
                "transform output must not contain the reserved column "
                "'__ingest_epoch' (used for the idempotent replay filter)"
            )
        out = transformed.withColumn(
            "__ingest_epoch", F.lit(int(epoch_id)).cast("long")
        )

        def survivors(existing: DataFrame) -> DataFrame:
            keep = existing.filter(
                F.col("__ingest_epoch").isNull()
                | (F.col("__ingest_epoch") != F.lit(int(epoch_id)))
            )
            return keep.unionByName(out)

        _merge_touched_partitions(
            spark, out, output_dir, partition_by, survivors,
            max_partitions=max_partitions_per_batch,
            over_cap=f"micro-batch {epoch_id} touches > {max_partitions_per_batch} "
            "output partitions; lower maxFilesPerTrigger or raise "
            "max_partitions_per_batch",
        )

    _drain_available_now(stream, sink, checkpoint_dir)


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling/sliding windowed aggregation with a watermark for late data:
    counts + value sums per (window, event_type). Works on both batch and
    streaming DataFrames (same plan; watermark is a no-op in batch)."""
    w = F.window("ts", window, slide)  # slide=None == tumbling
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Session windows (dynamic-length, gap-based) per user — Spark-native
    ``session_window``; state is bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


# --- custom stateful operator: running per-key stats across micro-batches ---

RUNNING_STATE_SCHEMA = "n BIGINT, total DOUBLE"
RUNNING_OUTPUT_SCHEMA = (
    "user_id BIGINT, batch_n BIGINT, running_n BIGINT, running_total DOUBLE"
)


def _accumulate_running(key, pdfs, n: int, total: float):
    """Fold one user's micro-batch frames into the running ``(n, total)``;
    return the new state and the one-row output frame."""
    import pandas as pd

    batch_n = 0
    for pdf in pdfs:
        batch_n += len(pdf)
        total += float(pdf["value"].sum())
    n += batch_n
    out = pd.DataFrame(
        {"user_id": [key[0]], "batch_n": [batch_n], "running_n": [n], "running_total": [total]}
    )
    return (n, total), out


def _running_stats_fn(key, pdfs, state: GroupState):
    """Accumulate (count, sum) per user across micro-batches — the
    applyInPandasWithState shape for operators the built-ins can't express
    (e.g. custom decay, model state)."""
    new_state, out = _accumulate_running(
        key, pdfs, *(state.get if state.exists else (0, 0.0))
    )
    state.update(new_state)
    yield out


def running_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (count, sum) surviving across micro-batches."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_stats_fn,
        outputStructType=RUNNING_OUTPUT_SCHEMA,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_available() -> bool:
    """True when transformWithStateInPandas can actually execute here: its
    Python-worker <-> JVM state server speaks protobuf, so the API imports
    fine but dies in the worker without ``google.protobuf``."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def running_user_stats_tws(events: DataFrame) -> DataFrame:
    """transformWithStateInPandas twin of :func:`running_user_stats` —
    identical semantics (per-user running count/sum across micro-batches,
    same output schema) on Spark 4's current-generation stateful API.

    Why a twin exists: transformWithStateInPandas supersedes
    applyInPandasWithState with typed value/list/map state, event- and
    processing-time timers, and state TTL — the API new stateful operators
    should target. It REQUIRES the RocksDB state store provider
    (``get_session(streaming=True)``) and ``google.protobuf`` in the
    Python workers; this raises eagerly with the dependency story when
    protobuf is absent (the in-worker failure is an opaque stack
    otherwise). Value parity with the applyInPandasWithState op and the
    batch oracle is pinned by
    tests/test_catalog_streaming.py::test_tws_running_stats_parity
    (protobuf-gated, like the Avro jar tests).
    """
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf in the Python "
            "workers (state-server protocol); install protobuf or use "
            "running_user_stats (applyInPandasWithState) instead"
        )
    from pyspark.sql.streaming import StatefulProcessor

    class _RunningStats(StatefulProcessor):
        def init(self, handle) -> None:  # StatefulProcessorHandle
            self._state = handle.getValueState(
                "running",
                T.StructType(
                    [
                        T.StructField("n", T.LongType()),
                        T.StructField("total", T.DoubleType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            new_state, out = _accumulate_running(
                key, rows, *(self._state.get() if self._state.exists() else (0, 0.0))
            )
            self._state.update(new_state)
            yield out

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningStats(),
        outputStructType=RUNNING_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "1 hour",
    watermark: str = "1 hour",
    right_suffix: str = "_r",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left row matched to
    right rows with the same key whose timestamp falls in
    ``[left.ts - max_delay, left.ts]`` (e.g. click joined to the views that
    preceded it within an hour).

    Both sides carry a watermark AND the join condition bounds the time
    range in both directions — the two requirements for Spark to age out
    buffered state instead of holding both streams forever. State per
    executor is O(key-cardinality x max_delay-worth of rows), independent
    of total stream length.

    ``how`` extends the join to the semantically hard half of late-data
    enrichment: ``left_outer`` / ``right_outer`` / ``full_outer`` emit the
    unmatched side NULL-padded — but only once the watermark passes the
    row's eviction point, because until then a future match could still
    arrive. Spark generates these rows at state eviction, so outer results
    trail the inner results by up to ``watermark + max_delay`` of event
    time; a terminal batch of late max-timestamp rows (or availableNow's
    end-of-data watermark advance) is what flushes the final NULL rows.
    Exactly-once per unmatched row is Spark's state-store contract: the
    row is deleted from state as the NULL-padded result is emitted.

    ``left_semi`` keeps each left row AT MOST ONCE if any right row
    matches its interval (output schema = left schema, no right columns)
    — the streaming filter-by-existence, e.g. "clicks that had a
    preceding view" without duplicating the click per view. Existence is
    monotone, so the row emits on its FIRST match (no watermark wait);
    only the silent drop of a never-matched row happens at eviction.

    Output columns are FLAT and unambiguous: left columns keep their
    names, every right column gets ``right_suffix`` appended. A bare
    two-sided join would return duplicate ``key``/``ts`` column names —
    unwritable to any file sink (Found duplicate column(s)) and
    unselectable without knowing internal aliases; the suffix makes the
    result sinkable as-is."""
    allowed_how = {"inner", "left_outer", "right_outer", "full_outer", "left_semi"}
    if how not in allowed_how:
        raise ValueError(f"how must be one of {sorted(allowed_how)}, got {how!r}")
    validate_interval_body(max_delay, "max_delay")
    validate_interval_body(watermark, "watermark")
    renamed = {c: c + right_suffix for c in right.columns}
    collisions = sorted(set(renamed.values()) & set(left.columns))
    if collisions:
        # a left column literally named e.g. 'ts_r' would recreate the
        # duplicate-name unsinkable output the suffix exists to prevent
        raise ValueError(
            f"right_suffix {right_suffix!r} collides with left columns "
            f"{collisions}; pass a right_suffix not used by any left column"
        )
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    rw = rw.withColumnsRenamed(renamed)
    lt, rt = F.col(left_ts), F.col(right_ts + right_suffix)
    cond = (
        (F.col(key) == F.col(key + right_suffix))
        & (rt <= lt)
        & (rt >= lt - F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, how)


def drain_interval_join_with_sentinel_flush(
    spark: SparkSession,
    left_in: str,
    right_in: str,
    out_path: str,
    checkpoint: str,
    schema,
    max_ts,
    build_join,
    sentinel_ids: Sequence[int] = (900_000_000, 900_000_001),
    sentinel_days: Sequence[int] = (2, 4),
) -> None:
    """Drive a watermarked stream-stream interval join over file-landed
    inputs to a COMPLETE flush — the three-drain protocol OUTER modes
    require, encoded once for every harness that needs it (the
    ``stream_interval_join_outer_roundtrip`` registry query and the
    ``stress_streaming --ops outer_join`` leg both call this; keeping two
    hand-copies of the protocol in sync was a drift hazard).

    Protocol (r15, single lifecycle): the sentinel generations
    (``user_id = -1``, ``event_type = 'sentinel'``, at ``max_ts + N
    days``, appended to BOTH sides so they cannot alter real matches)
    are landed UP FRONT with strictly increasing mtimes, and ONE
    availableNow lifecycle runs with per-source ``maxFilesPerTrigger``
    equal to the real file count: FileStreamSource orders files by
    modification time (verified empirically — reverse-named files with
    forced mtimes batch in mtime order), so batch 1 holds exactly the
    real files (the watermark cannot advance mid-real-data and drop late
    rows), the sentinel batch advances the watermark past every real
    row's eviction point, and the engine's trailing no-data micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``, default on)
    performs the eviction that emits the NULL-padded unmatched rows.
    Replaces the r13 three-lifecycle drain (drain, sentinel+drain,
    sentinel+drain): identical output row multiset (A/B-tested at
    sf0.001, 210/210 rows equal) at one stream startup instead of three
    — 9.4 s -> 2.5 s on the drain portion at sf0.001. Callers filter
    ``user_id`` sentinel rows from ``out_path`` afterwards.

    ``build_join(left_stream, right_stream)`` returns the sink-ready
    frame (the join plus the caller's projection); inputs must carry
    columns ``event_id, ts, user_id, event_type``.

    Contract (asserted): the input/output paths must be LOCAL
    filesystem directories — the mtime stamping that orders sentinel
    batches uses ``os.path.getmtime``/``os.utime``, which have no
    object-store equivalent (on s3:// the helper would silently
    mis-order); ``checkpoint`` must be FRESH (a reused offset log would
    replay from past the sentinel batches and the eviction flush would
    never run); and ``spark.sql.streaming.noDataMicroBatches.enabled``
    must be on (default) — the trailing no-data micro-batch is what
    performs the final eviction."""
    import glob as _glob
    import time as _time

    for p in (left_in, right_in, checkpoint):
        if "://" in p and not p.startswith("file:"):
            raise ValueError(
                f"drain_interval_join_with_sentinel_flush needs local "
                f"filesystem paths (mtime-stamped sentinel ordering); got {p!r}"
            )
    if os.path.exists(os.path.join(checkpoint, "offsets")):
        raise ValueError(
            f"checkpoint {checkpoint!r} already holds offsets: the "
            "single-lifecycle flush needs a FRESH checkpoint (a resumed "
            "stream would skip the sentinel batches and never evict)"
        )
    if (
        str(
            spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
        ).lower()
        != "true"
    ):
        raise ValueError(
            "spark.sql.streaming.noDataMicroBatches.enabled is off: the "
            "trailing no-data micro-batch performs the eviction that emits "
            "NULL-padded unmatched rows — re-enable it for this drain"
        )
    # per-SOURCE real-file counts: batch 1 holds exactly each side's real
    # files (the documented invariant — previously max(left, right) let
    # the smaller side ingest sentinels into batch 1, correct only
    # because watermark updates are post-batch)
    n_left = max(len(_glob.glob(os.path.join(left_in, "*.parquet"))), 1)
    n_right = max(len(_glob.glob(os.path.join(right_in, "*.parquet"))), 1)
    # land every sentinel generation now, stamping mtimes strictly above
    # the real files' (and each other's) so the engine replays them as
    # later batches; generation k gets real_mtimes + 10*(k+1) seconds
    stamp_base = max(
        [
            os.path.getmtime(f)
            for d in (left_in, right_in)
            for f in _glob.glob(os.path.join(d, "*.parquet"))
        ]
        + [_time.time()]
    )
    # ONE Spark job stages every generation (partitionBy splits them into
    # one file per generation); the landing copies are driver-side file
    # copies — local paths are already asserted above, and the old shape
    # ran (generations x sides) tiny write jobs (4 jobs for the default
    # two generations) where one suffices.
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    stage_dir = _tempfile.mkdtemp(prefix="sentinel-stage-")
    gens = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("__gen"),
                        F.lit(gen).cast("long").alias("event_id"),
                        (F.lit(max_ts) + F.expr(f"INTERVAL {days} DAYS")).alias(
                            "ts"
                        ),
                        F.lit(-1).cast("long").alias("user_id"),
                        F.lit("sentinel").alias("event_type"),
                    )
                    for k, (gen, days) in enumerate(
                        zip(sentinel_ids, sentinel_days)
                    )
                ]
            )
        ).alias("s")
    ).select("s.*")
    gens.coalesce(1).write.partitionBy("__gen").mode("overwrite").parquet(
        stage_dir
    )
    # one token per drain: a later drain over the same inputs lands NEW
    # sentinel files instead of overwriting ones a stream already ingested
    token = _uuid.uuid4().hex
    try:
        for k in range(len(list(zip(sentinel_ids, sentinel_days)))):
            (part,) = _glob.glob(
                os.path.join(stage_dir, f"__gen={k}", "*.parquet")
            )
            stamp = stamp_base + 10.0 * (k + 1)
            for d in (left_in, right_in):
                dst = os.path.join(d, f"sentinel-gen{k}-{token}.parquet")
                _shutil.copyfile(part, dst)
                os.utime(dst, (stamp, stamp))
    finally:
        _shutil.rmtree(stage_dir, ignore_errors=True)
    joined = build_join(
        _parquet_stream(spark, schema, left_in, n_left),
        _parquet_stream(spark, schema, right_in, n_right),
    )
    _drain_available_now(
        joined, lambda b, _e: b.write.mode("append").parquet(out_path), checkpoint
    )


def materialized_rollup(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    rollup_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    max_days_per_batch: int = 10_000,
    max_files_per_trigger: int | None = None,
) -> None:
    """Incrementally-maintained daily rollup (continuous-aggregate /
    hypertable-rollup pattern): as event files land, refresh ONLY the
    affected day partitions of a pre-aggregated table.

    Per micro-batch: (1) the touched days are read off the batch (tiny
    collect — distinct dates, not data); (2) those days are re-aggregated
    from the base table with a partition-prunable date filter; (3) the
    result overwrites only those day partitions (dynamic partition
    overwrite). Recompute-touched-partitions beats merge-with-state here:
    it is exact (handles late + duplicate files), idempotent on replay
    (checkpoint restart re-overwrites the same partitions), and at 100 TB
    the re-read is bounded by days-touched-per-batch, not table size,
    provided the base table is date-partitioned so the filter prunes.

    ``max_days_per_batch`` ENFORCES that bound (it is the operator's
    scale contract, not a comment): the distinct-days probe collects at
    most the cap + 1 rows, and a batch touching more days than the cap
    raises instead of silently growing the driver collect and the
    ``isin`` filter. ``max_files_per_trigger`` is the matching batch-size
    lever — without it an availableNow backfill puts EVERY landed file in
    one batch, and a cap breach would wedge the pipeline (the checkpoint
    never commits, each re-run rebuilds the same oversized batch); with
    it the same backfill drains in bounded bites."""
    stream = _parquet_stream(spark, schema, input_dir, max_files_per_trigger)

    def refresh(batch_df: DataFrame, epoch_id: int) -> None:
        # null-ts rows can never land in a day partition (to_date -> null,
        # and null never matches the membership filter) — drop the null
        # day before the bound check and the min/max range below
        days = [
            r["d"]
            for r in batch_df.select(F.to_date(ts_col).alias("d"))
            .filter(F.col("d").isNotNull())
            .distinct()
            .limit(max_days_per_batch + 1)
            .collect()
        ]
        if len(days) > max_days_per_batch:
            raise ValueError(
                f"micro-batch {epoch_id} touches > {max_days_per_batch} "
                "distinct days; pass max_files_per_trigger to bound the "
                "batch, or raise max_days_per_batch"
            )
        if not days:
            return
        from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import (
            write_partitioned_parquet,
        )

        base = spark.read.schema(schema).parquet(input_dir)
        agg = touched_days_rollup(base, days, ts_col, key_col, value_col)
        write_partitioned_parquet(agg, rollup_dir, ["day"])

    _drain_available_now(stream, refresh, checkpoint_dir)


def touched_days_rollup(
    base: DataFrame,
    days: Sequence,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Re-aggregate only the given days from the base event scan.

    The day membership test is on ``to_date(ts)`` — a DERIVED expression
    parquet can never prune on — so an additional raw-``ts`` range
    predicate ``[min(days), max(days)+1d)`` is applied first. That
    predicate IS pushed to the parquet scan (footer min/max row-group
    stats), so on an arrival-ordered landing directory the refresh skips
    every file whose ts range misses the touched window instead of
    re-reading the whole table each batch — the bound the 100 TB story
    needs even when the landing dir is flat (not hive-partitioned).
    Plan-pinned in tests/test_plans.py (PushedFilters on ``ts``)."""
    lo, hi = min(days), max(days)
    lo_ts = F.lit(str(lo)).cast("timestamp")
    hi_ts = F.date_add(F.lit(str(hi)).cast("date"), 1).cast("timestamp")
    return (
        base.filter((F.col(ts_col) >= lo_ts) & (F.col(ts_col) < hi_ts))
        .withColumn("day", F.to_date(ts_col))
        .filter(F.col("day").isin(list(days)))
        .groupBy("day", key_col)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
    )


def stream_dedup_events(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once event dedup: drop rows whose ``keys`` were
    already seen within the watermark horizon
    (``dropDuplicatesWithinWatermark``). This is the at-least-once ->
    exactly-once repair stage for replayed/duplicated event feeds; state is
    bounded by the watermark instead of growing forever (the failure mode
    of plain dropDuplicates on a stream)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def dedup_then_windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    keys: Sequence[str] = ("event_id",),
) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 4
    multi-stateful support): watermarked exactly-once dedup
    (``dropDuplicatesWithinWatermark``) feeding a tumbling windowed
    aggregate, both holding state in the SAME query — the at-least-once
    repair stage and the rollup it protects, fused so the duplicate rows
    never reach (and never double-count in) the aggregate's state.

    Pre-Spark-3.5 this required two queries with an intermediate sink
    (double the checkpoint I/O and an extra end-to-end latency hop);
    the single-query chain shares one watermark lineage — the dedup
    consumes event-time ``ts``, the window aggregates the SAME column,
    and the engine tracks the watermark across both stateful operators.

    Batch inputs take an explicit branch: ``dropDuplicatesWithinWatermark``
    is streaming-only (it raises AnalysisException on a batch Dataset),
    so a non-streaming DataFrame gets plain ``dropDuplicates`` — the
    batch-semantics twin (whole-input dedup; no watermark to bound)."""
    if events.isStreaming:
        deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    else:
        deduped = events.dropDuplicates(list(keys))
    return (
        deduped.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_upsert_by_key(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    output_path: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    partition_by: Sequence[str],
    transform: Callable[[DataFrame], DataFrame] | None = None,
    dedup_order: str | None = None,
) -> None:
    """Streaming CDC-style MERGE: each micro-batch row-level-upserts into a
    partitioned parquet table (sources.sinks.upsert_by_key) — late
    re-deliveries of a key overwrite its prior version instead of
    appending a duplicate. The checkpoint gives exactly-once per FILE; the
    keyed upsert makes redelivered KEYS idempotent too, so the combined
    contract is effectively exactly-once per key-version at O(touched
    partitions) cost per batch.

    ``dedup_order`` (a column name) makes the merge VERSIONED across both
    batch boundaries and intra-batch collisions: the survivor per key is
    the highest-``dedup_order`` row over everything delivered so far
    (``upsert_by_key(order_col=...)``) — so a late redelivery of an OLD
    version can never regress a newer row already in the table, and the
    final table is a pure function of the delivered row set, independent
    of which files landed in which micro-batch. Without it, each batch
    blindly replaces matched keys (last-batch-wins).
    """
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import upsert_by_key

    stream = _parquet_stream(spark, schema, input_dir, None)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        upsert_by_key(
            spark,
            out,
            output_path,
            keys=keys,
            partition_by=partition_by,
            order_col=dedup_order,
        )

    _drain_available_now(stream, sink, checkpoint_dir)


def stream_enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on: list,
    how: str = "left",
    broadcast: bool = True,
) -> DataFrame:
    """Stream-STATIC dimension enrichment: broadcast-join each micro-batch
    of a stream against a batch dimension table — the lookup/enrichment
    stage of every streaming pipeline (reference analogue: the refined-zone
    join a Glue job would do per landed file, etl/transform_1.py joins).

    The static side is re-planned per micro-batch, so a dimension that is
    itself refreshed by a slowly-updating batch job is re-read (and
    re-broadcast) on every batch — giving slowly-changing-dimension pickup
    without restarting the stream. The default broadcast hint keeps the
    stream side shuffle-free (state-free, watermark-free, append-mode
    safe); pass ``broadcast=False`` for a dimension too large to ship to
    every executor — the join degrades to a per-batch shuffle instead of
    an executor OOM."""
    return stream.join(F.broadcast(dim) if broadcast else dim, on=on, how=how)
