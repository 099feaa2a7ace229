"""Depth stress for the versioned manifest commit log (sources/pysink.py).

A long-lived table accumulates COMMITS, not just rows — the question at
depth is whether the metadata path stays metadata-priced: commit claims
its version from FILENAMES alone (one directory name listing, zero
manifest contents read), resolve replays from the newest CHECKPOINT
rollup (<= checkpointInterval manifest reads regardless of depth — flat,
not O(versions)), and pinned snapshots must be bit-stable while the log
keeps growing. This drives N commits through the REAL writer protocol
(driver-side commit objects; no Spark jobs — the executor half is
covered by the registry roundtrips), then:

- asserts every pinned snapshot k resolves to exactly the first k
  commits' files (spot-checked across the range + exhaustively at the
  tail),
- overwrites mid-log and asserts resolution restarts at the base while
  older pins stay readable until expired,
- expires below the base + vacuums, re-asserts the surviving snapshots,
- prints commit/resolve timings (metadata-class: milliseconds, not
  seconds — a resolve that scans data files would show up immediately).

Usage: python tools/stress_manifest_log.py [n_commits]
Prints a markdown row; paste into BENCH_NOTES.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql.types import LongType, StructField, StructType  # noqa: E402

from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (  # noqa: E402
    ManifestSinkWriter,
    _StagedFile,
    expire_manifest_versions,
    resolve_manifest_files,
    vacuum_manifest_sink,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stage(d: str, name: str, row_id: int) -> None:
    """Stage a one-row parquet data file, as a writer task would."""
    pq.write_table(
        pa.table({"id": pa.array([row_id], pa.int64())}), os.path.join(d, name)
    )


def run_depth(d: str, n: int) -> dict:
    """Drive n commits + the full pin/overwrite/expire/vacuum cycle in
    directory ``d`` (must exist, empty); every invariant is asserted
    in-line. Returns timing fields. Importable — wrapped as a pytest
    gate (test_manifest_log_depth_invariants) at a smaller n."""
    schema = StructType([StructField("id", LongType())])

    t0 = time.time()
    for i in range(1, n + 1):
        name = f"part-00000-{i:08d}.parquet"
        _stage(d, name, i)
        w = ManifestSinkWriter({"path": d}, schema, overwrite=False)
        w.commit([_StagedFile(name, 1)])
    t_commit = time.time() - t0

    # pinned snapshots: version k == exactly the first k files
    t0 = time.time()
    checks = sorted({1, 2, n // 4, n // 2, n - 1, n} | set(range(n - 5, n + 1)))
    for k in checks:
        files = resolve_manifest_files(d, version=k)
        assert len(files) == k, (k, len(files))
        assert os.path.basename(files[0]) == "part-00000-00000001.parquet"
    t_resolve = (time.time() - t0) / len(checks)

    # mid-log overwrite: resolution restarts at the base; older pins live on
    base_v = n + 1
    _stage(d, "part-00000-base.parquet", -1)
    ManifestSinkWriter({"path": d}, schema, overwrite=True).commit(
        [_StagedFile("part-00000-base.parquet", 1)]
    )
    assert len(resolve_manifest_files(d)) == 1
    assert len(resolve_manifest_files(d, version=n)) == n  # pre-base pin intact

    # retention: expire below the base (commits AND the checkpoints that
    # summarize only-expired prefixes), vacuum the orphaned generation —
    # grace_seconds=0 because this single-process stress has no writer in
    # flight (the default grace would correctly refuse the fresh files)
    expired = expire_manifest_versions(d, min_version=base_v)
    n_ckpt = sum(1 for name in expired if name.startswith("_CHECKPOINT"))
    assert len(expired) == n + n_ckpt, (len(expired), n, n_ckpt)
    removed = vacuum_manifest_sink(d, grace_seconds=0)
    assert len(removed) == n
    assert len(resolve_manifest_files(d)) == 1  # the base snapshot survives

    return {"n": n, "t_commit": t_commit, "t_resolve": t_resolve}


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    d = os.path.join(_REPO, "_scratch", "stress_manifest_log")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    r = run_depth(d, n)
    print(
        "| manifest_log depth %d | %.3f s total commit (%.2f ms/commit, "
        "filename-only claim + ckpt every 16) | %.2f ms/pinned resolve "
        "(checkpoint replay) | overwrite+expire+vacuum exact |"
        % (n, r["t_commit"], 1000 * r["t_commit"] / n, 1000 * r["t_resolve"])
    )


if __name__ == "__main__":
    main()
