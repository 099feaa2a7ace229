"""Harness self-test at tiny size.

    python3 perfbench/selftest.py

Runs both workloads in one Spark session with a few days and a few
commits, untraced and traced, and checks the outputs, the metric names
against BENCHMARK.json and the per-layer split. It also checks that the
benchmark refuses to run in a directory that holds only BENCHMARK.json
and perfbench/. Takes about a minute on one pinned CPU; exits non-zero
on the first failure.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()

import harness  # noqa: E402


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest: FAILED: {what}")
    print(f"selftest: ok: {what}", flush=True)


def check_refusal() -> None:
    harness.RUNS_DIR.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=harness.RUNS_DIR) as d:
        shutil.copy(harness.ROOT / "BENCHMARK.json", d)
        shutil.copytree(
            harness.ROOT / "perfbench", f"{d}/perfbench",
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "daily_increment",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=60,
        )
    expect(p.returncode != 0 and "{" not in p.stdout, "refuses to run without the package")


def check_metrics(metrics: dict, names, what: str) -> None:
    expect(set(metrics) == set(names), f"{what}: metric names match BENCHMARK.json")
    bad = {k: v for k, v in metrics.items() if not (isinstance(v, float | int) and math.isfinite(v))}
    expect(not bad, f"{what}: every metric is a finite number")


def main() -> None:
    check_refusal()
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer_names = [m["name"] for m in spec["per_layer"]]
    expect(
        [w["name"] for w in spec["workloads"]] == ["daily_increment", "lakehouse_upsert"],
        "BENCHMARK.json lists the two workloads",
    )

    run_dir = harness.new_run_dir("selftest")
    try:
        harness.pin_environment(run_dir)
        import daily_increment
        import lakehouse_upsert
        import run as bench
        import tracing

        daily_increment.STOCKS = 40
        daily_increment.WARMUP_DAYS = 1
        lakehouse_upsert.SEED_ROWS = 1_000
        lakehouse_upsert.MERGES_PER_BLOCK = 3
        lakehouse_upsert.WARMUP_MERGES = 1

        from fiap_machine_learning_tech_challenge_2_etl_spark import session

        t = time.perf_counter()
        spark = session.get_session(
            "perfbench-selftest", extra_conf=harness.session_conf(run_dir, event_log=True)
        )
        session_s = time.perf_counter() - t
        cases = (
            ("daily_increment untraced", daily_increment.DailyIncrement, tracing.NullTracer()),
            ("daily_increment traced", daily_increment.DailyIncrement, tracing.Tracer()),
            ("lakehouse_upsert traced", lakehouse_upsert.LakehouseUpsert, tracing.Tracer()),
        )
        done = []
        try:
            for i, (what, cls, tracer) in enumerate(cases):
                sub = run_dir / f"case{i}"
                sub.mkdir()
                wl, run, metrics, errors = bench.execute(
                    spark, cls, sub, 7 + i, 3, tracer, time.perf_counter()
                )
                expect(not errors, f"{what}: outputs match the reference ({errors[:2]})")
                expect(run.attempted > 0 and run.failed == 0, f"{what}: no failed ops")
                check_metrics(metrics, e2e, what)
                line = json.loads(bench.result_line(True, run, metrics, {k: "u" for k in metrics}))
                expect(
                    set(line) == {"correct", "attempted", "failed", "metrics"},
                    f"{what}: result line has the contract's keys",
                )
                done.append((what, wl, run, tracer))
        finally:
            harness.stop_session(spark)

        events = tracing.read_event_log(run_dir / "events")
        for what, wl, run, tracer in done:
            if not tracer.enabled:
                continue
            layer = bench.layer_metrics(wl, run, tracer, events, session_s)
            layer["trace.overhead_frac"] = 1.0
            expect(set(layer) <= set(layer_names), f"{what}: every layer metric is in BENCHMARK.json")
            check_metrics({k: layer.get(k, 0.0) for k in layer_names}, layer_names, what)
            expect(layer["spark.op.jobs"] > 0 and layer["spark.op.job_s"] > 0, f"{what}: jobs attributed to ops")
            key = "incremental.drain_s" if wl.name == "daily_increment" else "pysink.merge_point_s"
            expect(layer[key] > 0, f"{what}: {key} recorded")
            tracer.dump(run_dir / "spans.jsonl")
            expect((run_dir / "spans.jsonl").stat().st_size > 0, f"{what}: spans written out")
    finally:
        harness.remove_run_dir(run_dir)
    print(f"selftest: passed in {time.perf_counter() - T_START:.1f}s")


if __name__ == "__main__":
    main()
