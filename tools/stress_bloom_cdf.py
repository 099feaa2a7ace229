"""Metadata-path stress for the r14 skipping/feed tiers (sources/pysink.py):

1. BLOOM wide-log leg — a 200-file log whose files hold INTERLEAVED id
   residue classes, so every file's [min, max] spans the whole domain
   and range stats prune nothing. A point lookup must come back
   bloom-pruned to the true holder plus at most a handful of false
   keeps (10 bits/key, 7 probes => ~0.8%/file false-KEEP; 199 wrong
   files => ~1.6 expected). Asserts the holder is kept (superset — a
   bloom may never LOSE a file) and measures prune wall-time and the
   bloom's manifest-size overhead, because the honest cost of this tier
   is bytes in the log, not CPU.

2. CDF planning leg — the ``manifestlog`` change-feed reader's
   ``partitions()`` takes a removed file's format from its name's
   extension, so a REPLACE batch opens only its in-range commits.
   Count those opens at depth and measure the planning time.

Driver-side only (no Spark jobs): both legs exercise the log protocol
itself, same contract as stress_manifest_log.py. The executor halves
are covered by the registry roundtrips and pytest gates.

Usage: python tools/stress_bloom_cdf.py [n_files] [depth]
Prints markdown rows; paste into BENCH_NOTES.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (  # noqa: E402
    _V_PREFIX,
    _bloom_build,
    _publish_exclusive,
    prune_manifest_files,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _commit(d: str, v: int, name: str, stats: dict, mode: str = "append",
            removed: list | None = None) -> int:
    man = {
        "files": [name] if name else [],
        "n_rows": None,
        "fields": ["id"],
        "schema_json": json.dumps(
            {"type": "struct",
             "fields": [{"name": "id", "type": "long",
                         "nullable": True, "metadata": {}}]}
        ),
        "format": "parquet",
        "mode": mode,
        "ts": time.time(),
    }
    if removed is not None:
        man["removed_files"] = removed
    if stats:
        man["file_stats"] = {name: stats}
    _publish_exclusive(d, f"{_V_PREFIX}{v:08d}", man)
    return len(json.dumps(man))


def run_bloom(n_files: int, per_file: int) -> dict:
    d = os.path.join(_REPO, "_scratch", "stress_bloom")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    man_bytes = 0
    for i in range(n_files):
        # file i holds ids congruent to i mod n_files: every file's
        # range spans ~the whole domain => min/max never prunes a point
        vals = [i + j * n_files for j in range(per_file)]
        # touch a real (empty) data file so nothing downstream trips on
        # a missing name; the stress is about the metadata tier
        open(os.path.join(d, f"f{i:05d}.parquet"), "w").close()
        stats = {
            "min": min(vals), "max": max(vals),
            "nulls": 0, "rows": per_file,
            "bloom": _bloom_build(set(vals)),
        }
        man_bytes += _commit(d, i + 1, f"f{i:05d}.parquet", {"id": stats})
    probe = 1 + 7 * n_files  # held ONLY by file 1
    t0 = time.perf_counter()
    kept, total = prune_manifest_files(d, {"id": [(probe, probe)]})
    prune_ms = (time.perf_counter() - t0) * 1e3
    holder = os.path.join(d, "f00001.parquet")
    assert holder in kept, "bloom lost the true holder — superset violated"
    assert total == n_files
    # range control: the same lookup as a range keeps everything
    rk, _ = prune_manifest_files(d, {"id": (probe, probe + n_files)})
    assert len(rk) == total, "interleaved layout should defeat range stats"
    # FP budget: ~0.8%/file; 6 sigma above the mean at 200 files is ~9
    assert len(kept) <= 1 + max(9, n_files // 10), (
        f"false-keep rate implausibly high: {len(kept)}/{total}"
    )
    shutil.rmtree(d, ignore_errors=True)
    return {
        "n_files": n_files,
        "per_file_keys": per_file,
        "kept": len(kept),
        "prune_ms": round(prune_ms, 2),
        "bloom_bytes_per_file": man_bytes // n_files,
    }


def run_cdf_planning(depth: int) -> dict:
    """r15: CDF planning is O(range), not O(commits) — staged names
    carry their format in the extension, so a replace batch's delete
    partitions need NO backfill walk. Proven DETERMINISTICALLY by
    counting manifest opens (monkeypatched ``_load``): a one-commit
    replace batch opens exactly ONE manifest at ANY depth (the r14 code
    opened depth+1 — the "fmt-map walk"); wall-times ride along for
    BENCH_NOTES."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources import pysink
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestLogStreamReader,
    )
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("id", LongType()),
        StructField("_change_type", StringType()),
        StructField("_commit_version", LongType()),
        StructField("_commit_timestamp", DoubleType()),
    ])
    opens = {"n": 0}
    real_load = pysink._load

    def counting_load(path, name):
        opens["n"] += 1
        return real_load(path, name)

    d = os.path.join(_REPO, "_scratch", "stress_cdf_plan")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for v in range(1, depth + 1):
        open(os.path.join(d, f"f{v:05d}.parquet"), "w").close()
        _commit(d, v, f"f{v:05d}.parquet", {})
    open(os.path.join(d, f"f{depth + 1:05d}.parquet"), "w").close()
    _commit(d, depth + 1, f"f{depth + 1:05d}.parquet", {}, mode="replace",
            removed=["f00001.parquet"])
    reader = ManifestLogStreamReader(
        {"path": d, "readchangefeed": "true"}, schema
    )
    pysink._load = counting_load
    try:
        opens["n"] = 0
        t0 = time.perf_counter()
        parts = list(reader.partitions({"v": depth}, {"v": depth + 1}))
        plan_ms = (time.perf_counter() - t0) * 1e3
        replace_opens = opens["n"]
        assert {(p.filename, p.change) for p in parts} == {
            ("f00001.parquet", "delete"),
            (f"f{depth + 1:05d}.parquet", "insert"),
        }
        opens["n"] = 0
        t0 = time.perf_counter()
        list(reader.partitions({"v": depth - 1}, {"v": depth}))
        plan_append_ms = (time.perf_counter() - t0) * 1e3
        append_opens = opens["n"]
    finally:
        pysink._load = real_load
    # THE flatness proof: one in-range commit -> ONE manifest open,
    # regardless of the log's depth (r14: depth+1 opens)
    assert replace_opens == 1, (
        f"modern CDF replace planning opened {replace_opens} "
        f"manifests at depth {depth}; must be 1 (O(range))"
    )
    assert append_opens == 1
    shutil.rmtree(d, ignore_errors=True)
    return {
        "depth": depth,
        "modern_replace_plan_ms": round(plan_ms, 2),
        "modern_replace_opens": replace_opens,
        "modern_append_plan_ms": round(plan_append_ms, 2),
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    depth = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    b = run_bloom(n, 1000)
    c = run_cdf_planning(depth)
    print(
        f"| bloom wide-log {b['n_files']} files x {b['per_file_keys']} keys "
        f"(interleaved: range stats keep ALL) | point lookup kept "
        f"{b['kept']}/{b['n_files']} files | prune {b['prune_ms']} ms | "
        f"~{b['bloom_bytes_per_file']} manifest bytes/file |"
    )
    print(
        f"| CDF stream planning at depth {c['depth']} | replace batch "
        f"{c['modern_replace_plan_ms']} ms, {c['modern_replace_opens']} "
        f"manifest open (O(range) — r14 opened depth+1) | append "
        f"{c['modern_append_plan_ms']} ms |"
    )


if __name__ == "__main__":
    main()
