"""Sources and sinks: parquet dir/file readers, catalog tables, partitioned writes."""

from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import (
    read_parquet_dir,
    read_parquet_files,
    read_table,
    load_testdata,
)
from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import (
    write_partitioned_parquet,
)
from fiap_machine_learning_tech_challenge_2_etl_spark.sources.text_formats import (
    quarantine_corrupt,
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
)

__all__ = [
    "read_parquet_dir",
    "read_parquet_files",
    "read_table",
    "load_testdata",
    "write_partitioned_parquet",
    "read_csv",
    "read_jsonl",
    "quarantine_corrupt",
    "write_csv",
    "write_jsonl",
]
