"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` maps one
entry per implemented operator (SURVEY.md section 2) to a
``(spark, sf_dir) -> DataFrame`` callable; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL. Computed columns are aliased identically on
both sides; floating-point aggregates are rounded to 6 decimals on both
sides so value hashes are stable across engines.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fiap_machine_learning_tech_challenge_2_etl_spark.plans.pipeline import (
    flagship_events_pipeline,
)
from fiap_machine_learning_tech_challenge_2_etl_spark import queries_catalog


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_events_pipeline(spark, "/root/testdata/sf0.001")


# The driver attests the FIRST 50 queries() entries per round. This
# window is GENERATED from the CORRECTNESS_r*.json history by
#   python tools/attestation_ledger.py --changed \
#     catalog_partition_registry,msck_repair_discovery,file_list_scan,\
#     flagship_pipeline,runner_batch_roundtrip,\
#     sink_partition_overwrite_roundtrip,asof_join_events,\
#     point_in_time_state_join,sink_upsert_merge_roundtrip,\
#     stream_upsert_cdc_roundtrip,incremental_stream_roundtrip,\
#     stream_interval_join_roundtrip,ewma_user_daily
# Round-9 leads, three groups:
# (0) TWO NEW registry rows (186 -> 188): csv_quarantine_roundtrip
#     (the CSV twin of the JSONL quarantine — headerless gzip CSV
#     landing zone, 3 injected malformed lines, clean rows byte-exact
#     vs the parquet source) and orc_sink_roundtrip (the shared
#     partitioned writer generalized with fmt='orc' — dynamic
#     overwrite + partition discovery + type fidelity through ORC);
# (1) the six queries whose operators changed in the round-8 LATE sweep
#     and missed the full r08 window (the verdict's top item): the
#     catalog DDL partition-order fix (ensure_external_table), the
#     parquet layout probe (read_parquet_dir), the --window-days runner
#     wiring, and the shared partitioned writer;
# (2) the six queries riding the round-9 ADVICE fixes: asof_join now
#     drops right rows with NULL timestamps (SQL semantics — NULL ts can
#     never satisfy ts <= left.ts; property test extended with NULL
#     keys/ts on both sides), the touched-partition pruning in
#     run_incremental_pipeline now shares upsert_by_key's two regimes
#     (literal OR-chain <= 100 partitions, broadcast semi-join beyond —
#     today both run on sinks._merge_touched_partitions), the incremental sink
#     raises on a reserved __ingest_epoch column in transform output,
#     read_parquet_dir raises on MIXED partition layouts instead of
#     silently skipping plain subdirs, and stream_stream_interval_join
#     raises on right-suffix/left-column name collisions.
# Then pure stalest-first: the remaining 14 r04 rows, then r05 rows in
# registry order. Bare ``attestation_ledger.py --check`` verifies this
# tuple (it reads max_round and the changed set from the committed
# ledger).
# ROUND-14 NOTE: window regenerated stalest-first via
# ``query_provenance.py -> attestation_ledger.py --changed``. Leads:
# the 7 never-attested r14 queries (copy-on-write MERGE through the
# log's new replace commits; DELETE WHERE with file-scoped rewrite
# pins; TIMESTAMP AS OF with the monotone clock-skew clamp; null-count
# stats pruning IS [NOT] NULL from metadata alone; RESTORE as one
# metadata-only overwrite; CHANGE DATA FEED from file-set diffs; the
# EP1 per-file trigger as foreachBatch(transform_v2) micro-batches
# over a B3_RAW_V2 landing zone), then the 10
# changed-since-attestation manifest rows (pysink gained replace
# resolution, commit timestamps, expectedVersion CAS, JSON-safe tagged
# stats with null/row counts, Arrow RecordBatch log reads, the legacy
# v0 stream offset, optimize conflict detection + stats propagation;
# manifest_stats_pruned_read's data-dependent assert became a
# scale-relative ValueError probe). Then the seven r08-green rows (the
# r13 verdict's explicit carry-over debt) and the r09 cohort in
# registry order. Post-r14 oldest green must be >= r09. Re-rotate with
# every new query addition.
_PRIORITY = (
    "manifest_column_mapping_roundtrip",
    "manifest_partition_values_pruned_read",
    "manifest_stream_merge_roundtrip",
    "manifest_describe_detail_report",
    "manifest_sink_roundtrip",
    "manifest_sink_time_travel",
    "manifest_sink_parquet_roundtrip",
    "manifest_checkpoint_resolve_roundtrip",
    "manifest_schema_evolution_roundtrip",
    "manifest_stats_pruned_read",
    "manifest_bloom_pruned_read",
    "manifest_optimize_roundtrip",
    "manifest_history_report",
    "manifest_merge_upsert_roundtrip",
    "manifest_delete_replace_roundtrip",
    "manifest_timestamp_time_travel",
    "manifest_null_stats_pruned_read",
    "manifest_restore_roundtrip",
    "manifest_cdc_changes",
    "manifest_merge_delete_roundtrip",
    "manifest_cdc_keyed_changes",
    "manifest_log_stream_tail_roundtrip",
    "manifest_retention_delete",
    "manifest_clone_divergence",
    "manifest_stream_change_feed",
    "stream_manifest_compaction_roundtrip",
    "language_id",
    "doc_fingerprint",
    "ewma_user_daily",
    "mode_per_group",
    "lateral_join_topk",
    "sql_pipe_syntax_entry",
    "benford_first_digit",
    "sessionize_gap_islands",
    "time_weighted_average",
    "join_key_skew_report",
    "multimodal_audio_energy",
    "cusum_drift_detection",
    "quantile_normalize_by_lang",
    "hll_distinct_rollup",
    "sink_partition_overwrite_roundtrip",
    "sink_upsert_merge_roundtrip",
    "catalog_partition_registry",
    "runner_batch_roundtrip",
    "msck_repair_discovery",
    "file_list_scan",
    "incremental_stream_roundtrip",
    "stream_upsert_cdc_roundtrip",
    "stream_session_window_roundtrip",
    "stream_tumbling_late_data_roundtrip",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2,
    ordered so queries needing a (fresh) driver attestation come first."""
    q = queries_catalog.SPARK_QUERIES
    ordered = {k: q[k] for k in _PRIORITY if k in q}
    ordered.update({k: v for k, v in q.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents, same aliases as queries()."""
    return queries_catalog.ORACLE_SQL
