"""Shared benchmark machinery: environment pinning, the per-run state
directory, the Spark session, op timing, summary statistics, peak RSS and
the result line.

Everything a run writes lives under ``<checkout>/.perfbench_runs/``; the
per-run state directory is removed when the run ends.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "fiap_machine_learning_tech_challenge_2_etl_spark"
RUNS_DIR = ROOT / ".perfbench_runs"

# Fixed JVM heap (-Xmx through the package's knob, -Xms below). Under the
# package default (16g) the heap grows with GC timing, and RSS with it.
DRIVER_MEM = "1g"
# The JVM compiles with its first JIT tier only. With the default tiered
# JIT, op times kept falling for 20+ ops after the warm-up and runs that
# compiled late read up to 40% slower: the window measured JIT progress.
# The serial collector is the one the JVM picks on one CPU anyway; naming
# it keeps the heap layout, and so RSS, the same on any machine.
JVM_OPTIONS = (
    f"-Xms{DRIVER_MEM} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC -XX:-UsePerfData"
)
TAIL_BEYOND = 10  # a tail percentile needs this many samples above it


def package_present() -> bool:
    return (ROOT / PACKAGE / "__init__.py").is_file()


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def pin_cpu() -> None:
    """Bind this process, and so the JVM and the Python workers it starts,
    to one CPU: the last one it may use.

    The ops are a single client's chain of hand-offs between the Python
    driver, the JVM's threads and the Python workers. Spread over the
    VM's idle vCPUs, every hand-off wakes a halted vCPU, and the host's
    delay in running it is charged as steal: 9-20% of the VM's CPU time
    during unpinned runs on a 4-vCPU VM, under 3% when pinned, with op
    times 25-35% lower. A pipe ping-pong between two processes there
    took 34-48 us a round trip across CPUs and 6-9 us on one CPU."""
    os.sched_setaffinity(0, [max(os.sched_getaffinity(0))])


def pin_environment(run_dir: Path) -> None:
    """Pin the CPU, then set the package's own knobs before it is
    imported: ``session.py`` reads SPARK_GRAFT_CPUS at import time to
    size shuffle partitions. PYTHONPATH lets Python UDF and DataSource
    workers import the package; TMPDIR and SPARK_LOCAL_DIRS keep scratch
    files inside the run."""
    pin_cpu()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = run_dir / "tmp"
    local = run_dir / "local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # spark-submit's launcher JVM, which starts before the session's JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def new_run_dir(tag: str) -> Path:
    d = RUNS_DIR / f"{tag}-{os.getpid()}-{time.time_ns()}"
    d.mkdir(parents=True)
    return d


def remove_run_dir(run_dir: Path) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)


def session_conf(run_dir: Path, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.local.dir": str(run_dir / "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir / 'tmp'} "
            f"-Dderby.system.home={run_dir / 'derby'} {JVM_OPTIONS}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        events = run_dir / "events"
        events.mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)


class Run:
    """One workload execution: its session, state directory, seed, work
    size, tracer, and the ops it timed."""

    def __init__(self, spark, run_dir: Path, seed: int, seconds: int, tracer):
        self.spark = spark
        self.dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.ops: list[dict] = []  # timed ops only
        self.phases: dict[str, float] = {}  # set-up breakdown, seconds
        self.attempted = 0
        self.failed = 0
        self._n = 0

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def op(self, kind: str, fn, *, warm: bool = False):
        """Run one closed-loop op and time it. Returns fn's result, or
        None when it raised (the failure is counted and printed)."""
        self._n += 1
        self.attempted += 1
        label = f"perfbench:{self._n}:{kind}"
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(label, kind)
        ts0 = time.time()
        t0 = time.perf_counter()
        ok = True
        result = None
        try:
            with self.tracer.span(f"op.{kind}", op=label, warm=warm):
                result = fn()
        except Exception:  # noqa: BLE001 — counted against attempted ops
            ok = False
            self.failed += 1
            print(f"perfbench: op {label} failed", file=sys.stderr)
            traceback.print_exc()
        dt = time.perf_counter() - t0
        if not warm:
            self.ops.append(
                {"kind": kind, "label": label, "s": dt, "t0": ts0, "t1": time.time(), "ok": ok}
            )
        return result

    def durations(self, kind: str) -> list[float]:
        return [o["s"] for o in self.ops if o["kind"] == kind and o["ok"]]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, str]:
    """The highest percentile with at least TAIL_BEYOND samples above it,
    with its label (e.g. ``p75 of 40``). With too few samples for that
    percentile to lie above the median, the maximum is reported instead
    and labelled as such."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, "none"
    if n <= 2 * TAIL_BEYOND:
        return s[-1], f"max of {n}"
    k = n - TAIL_BEYOND - 1
    return s[k], f"p{100 * (k + 1) // n} of {n}"


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def process_tree() -> list[int]:
    """This process and all its descendants (the JVM and the Python
    workers it forks)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            pp = _ppid(entry)
            if pp is not None:
                children.setdefault(pp, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the process tree."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def latency_metrics(run: Run, kind: str, prefix: str) -> tuple[dict, str]:
    xs = run.durations(kind)
    t, label = tail(xs)
    return (
        {f"{prefix}_p50_s": median(xs), f"{prefix}_tail_s": t},
        f"{prefix}: n={len(xs)} p50={median(xs):.4f}s tail({label})={t:.4f}s",
    )


def dir_bytes(path: Path, pred=lambda name: True) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if pred(f):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total
