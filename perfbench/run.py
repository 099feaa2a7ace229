"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one closed-loop, single-client workload against the package's public
functions on one pinned CPU (local[1]) from empty state, checks every
output, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics from a
traced run. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

import harness  # noqa: E402
import tracing  # noqa: E402
from daily_increment import DailyIncrement  # noqa: E402
from lakehouse_upsert import LakehouseUpsert  # noqa: E402

WORKLOADS = {cls.name: cls for cls in (DailyIncrement, LakehouseUpsert)}


def execute(spark, cls, run_dir: Path, seed: int, seconds: int, tracer, t_start: float):
    """Set up, time and check one workload on an existing session. Returns
    the workload, its Run, the end-to-end metrics and check errors."""
    run = harness.Run(spark, run_dir, seed, seconds, tracer)
    wl = cls(run)
    if tracer.enabled:
        tracer.install(wl.trace_targets)
    wl.setup()
    t0 = time.perf_counter()
    wl.timed()
    t1 = time.perf_counter()
    rss = harness.peak_rss_mb()
    op, op_line = harness.latency_metrics(run, wl.op_kind, "op")
    rd, rd_line = harness.latency_metrics(run, "read", "read")
    metrics = {"setup_s": t0 - t_start, "wall_s": t1 - t0, **op, **rd, "peak_rss_mb": rss}
    print(f"{wl.name} seed={seed}: {op_line}; {rd_line}", flush=True)
    print("op samples (s): " + " ".join(f"{x:.3f}" for x in run.durations(wl.op_kind)), flush=True)
    with run.phase("check"):
        errors = wl.check()
    print("phases: " + ", ".join(f"{k} {v:.2f}s" for k, v in run.phases.items()), flush=True)
    return wl, run, metrics, errors


def result_line(correct: bool, run, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    )


def benchmark_units() -> tuple[dict, dict]:
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layer


WALLS = harness.RUNS_DIR / "untraced_walls.jsonl"


def record_wall(args, wall_s: float) -> None:
    with open(WALLS, "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "seconds": args.seconds, "wall_s": wall_s}) + "\n")


def untraced_wall(args) -> float:
    """The median wall_s of the untraced runs of this workload and size
    made earlier in this checkout. Without any, one untraced run of the
    same seed in a fresh process."""
    def walls():
        if not WALLS.exists():
            return []
        recs = [json.loads(line) for line in WALLS.read_text().splitlines() if line]
        return [
            r["wall_s"] for r in recs
            if r["workload"] == args.workload and r["seconds"] == args.seconds
        ]

    if not walls():
        cmd = [
            sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
        ]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    return harness.median(walls())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not harness.package_present():
        print(f"perfbench: package {harness.PACKAGE} not found under {harness.ROOT}", file=sys.stderr)
        return 2
    e2e_units, layer_units = benchmark_units()
    base_wall = untraced_wall(args) if args.trace else None

    run_dir = harness.new_run_dir(f"{args.workload}-seed{args.seed}-trace{args.trace}")
    try:
        harness.pin_environment(run_dir)
        tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
        from fiap_machine_learning_tech_challenge_2_etl_spark import session

        t = time.perf_counter()
        spark = session.get_session(
            f"perfbench-{args.workload}",
            extra_conf=harness.session_conf(run_dir, event_log=bool(args.trace)),
        )
        session_s = time.perf_counter() - t
        print(f"session start {session_s:.2f}s", flush=True)
        try:
            wl, run, metrics, errors = execute(
                spark, WORKLOADS[args.workload], run_dir, args.seed,
                args.seconds, tracer, T_START,
            )
        finally:
            harness.stop_session(spark)
        for e in errors:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
        correct = not errors and run.failed == 0
        if not args.trace:
            record_wall(args, metrics["wall_s"])
            print(result_line(correct, run, metrics, e2e_units))
            return 0
        events = tracing.read_event_log(run_dir / "events")
        layer = layer_metrics(wl, run, tracer, events, session_s)
        layer["trace.overhead_frac"] = metrics["wall_s"] / base_wall
        tracer.dump(harness.RUNS_DIR / "traces" / f"{args.workload}-seed{args.seed}.jsonl")
        print(result_line(correct, run, {k: layer.get(k, 0.0) for k in layer_units}, layer_units))
        return 0
    finally:
        harness.remove_run_dir(run_dir)


def layer_metrics(wl, run, tracer, events: list[dict], session_s: float) -> dict:
    out = {"session.start_s": session_s, **wl.layer_metrics(tracer, events)}
    stats = tracing.spark_op_stats(events, [o for o in run.ops if o["ok"]])
    for role, kind in (("op", wl.op_kind), ("read", "read")):
        labels = [o["label"] for o in run.ops if o["kind"] == kind and o["ok"]]
        for m in tracing.SPARK_METRICS:
            out[f"spark.{role}.{m}"] = harness.median(stats[lb][m] for lb in labels)
    return out


if __name__ == "__main__":
    sys.exit(main())
