"""Benchmark of the training warehouse: one workload per run.

    python3 perfbench/run.py --workload diary_etl --seed 1 --seconds 10 --trace 0

One client thread drives a ``local[4]`` session in a closed loop: the next
operation starts when the previous one has returned. A run

1. starts the session and makes the workload's inputs from ``--seed``
   (``setup_s``: CPU seconds of session start, plus the median of three
   input builds, plus one job that starts the Python workers;
   ``setup_wall_s``: their wall time);
2. times the first iteration (``first_s`` wall, ``first_cpu_s`` CPU
   seconds), then iterates until ``--seconds`` of iteration time have
   passed (``wall_s`` and ``cpu_s`` are the medians over those warm
   iterations);
3. checks every iteration's outputs outside the timed regions;
4. with ``--trace 1``, runs one more iteration with spans around the
   calls into the program and Spark's event log on, and reports the
   per-layer metrics of that iteration instead of the end-to-end ones.

The gated times, ``setup_s``, ``first_cpu_s`` and ``cpu_s``, are CPU
seconds of this process, the JVM and its Python workers. The host is
shared with other virtual machines: wall time also counts the time it
takes the vCPUs away, and the same work takes up to a fifth more or less
CPU time from one second to the next. So CPU times are scaled to a
reference host speed: ``speed.Probe`` times a fixed piece of work all
through the run, and a region's CPU time is multiplied by
``speed.REFERENCE_WORK_S`` over the probe's median during that region.
The log on stderr has the unscaled figures. Over ten seeds of
``diary_etl`` on 4 vCPUs, the distance between the quartiles of
``wall_s`` was 0.16 of its median, that of the probe's speed 0.07 and
that of ``cpu_s`` 0.08.

Everything a run writes goes under ``.perfbench/`` in the checkout and is
removed when it ends. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
restate the metrics with their units, ``failed_ratio`` and, where the
workload writes a warehouse, ``stored_bytes``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path
from typing import NamedTuple

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

CORES = 4
MASTER = f"local[{CORES}]"
DRIVER_MEMORY = "2g"
INPUT_BUILDS = 3

#: Gated metrics, then the ones only printed. Wall times swing with the
#: CPU time a shared host steals, so the gate uses CPU seconds.
END_TO_END = {"setup_s": "s", "first_cpu_s": "s", "cpu_s": "s", "peak_rss_mb": "MiB"}
PRINTED = {"setup_wall_s": "s", "first_s": "s", "wall_s": "s", "host_speed": "ratio"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(scratch: Path, trace: bool):
    """A session with every file it writes under ``scratch``. Spark's
    Python workers inherit ``PYTHONPATH``, so they import the program from
    this checkout whatever the working directory. The JVM heap starts at
    its maximum size: when G1 grows it on demand, the JVM's peak resident
    memory moves by a tenth from run to run."""
    from pyspark import SparkConf, SparkContext
    from training_datawarehouse_spark.session import get_spark

    for d in ("tmp", "local", "events"):
        (scratch / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(scratch / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    jvm_files = f"-Djava.io.tmpdir={scratch / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_files
    conf = (
        SparkConf().setMaster(MASTER).setAppName("perfbench")
        .set("spark.driver.memory", DRIVER_MEMORY)
        .set("spark.driver.extraJavaOptions",
             f"-Xms{DRIVER_MEMORY} {jvm_files}")
        .set("spark.local.dir", str(scratch / "local"))
        .set("spark.sql.warehouse.dir", str(scratch / "spark-warehouse"))
        .set("spark.ui.enabled", "false")
        .set("spark.ui.showConsoleProgress", "false")
        .set("spark.eventLog.enabled", "true" if trace else "false")
        .set("spark.eventLog.dir", str(scratch / "events"))
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
    )
    SparkContext(conf=conf)
    spark = get_spark("perfbench", master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def peak_rss_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and by the JVM with all its
    descendants, the Python workers, including those that have exited:
    their parents inside the tree reap them, which moves their time into
    the parents' ``cutime``/``cstime``. Time stolen by the hypervisor is
    not in these counters, so this figure is steadier than wall time on
    a shared host."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process ended while we listed /proc
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, frontier = set(), {jvm_pid}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
    total = sum(ticks.get(p, 0) for p in tree)
    return total / os.sysconf("SC_CLK_TCK") + time.process_time()


class Timing(NamedTuple):
    wall_s: float
    cpu_s: float
    #: Reference over actual host speed during the region.
    scale: float


class Ops:
    """Operations attempted and failed; a failed check fails its operation."""

    def __init__(self, workload, jvm_pid: int, probe):
        self.workload = workload
        self.jvm_pid = jvm_pid
        self.probe = probe
        self.attempted = 0
        self.failed = 0

    def iteration(self, tracer=None) -> Timing:
        """One timed iteration, then its untimed check."""
        wl = self.workload
        wl.reset()
        self.attempted += wl.ops_per_iteration
        cpu0, t0 = cpu_s(self.jvm_pid), time.monotonic()
        try:
            with tracer.span("workload") if tracer else contextlib.nullcontext():
                wl.iterate(tracer)
            ok = True
        except Exception:
            traceback.print_exc()
            self.failed += wl.ops_per_iteration
            ok = False
        cpu1, t1 = cpu_s(self.jvm_pid), time.monotonic()
        timing = Timing(t1 - t0, cpu1 - cpu0, self.probe.scale(t0, t1))
        if ok:
            try:
                self.failed += len(wl.check())
            except Exception:
                traceback.print_exc()
                self.failed += wl.ops_per_iteration
        return timing


def run(args, scratch: Path, probe) -> tuple[dict, dict, float, Ops]:
    import spans
    from workloads import WORKLOADS, per_layer_names

    t0, cpu0 = time.monotonic(), time.process_time()
    spark = start_session(scratch, bool(args.trace))
    try:
        sc = spark.sparkContext
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        session = time.monotonic() - t0, cpu_s(jvm_pid) - cpu0

        def timed(fn) -> tuple[float, float]:
            """Wall and CPU seconds of ``fn()``."""
            t, c = time.monotonic(), cpu_s(jvm_pid)
            fn()
            return time.monotonic() - t, cpu_s(jvm_pid) - c

        wl = WORKLOADS[args.workload](spark, scratch, args.seed)
        builds = [timed(wl.prepare) for _ in range(INPUT_BUILDS)]
        workers = timed(lambda: spark.range(2 * CORES, numPartitions=CORES).mapInPandas(
            lambda it: it, "id long").count())
        setup_scale = probe.scale(t0, time.monotonic())
        build_wall, build_cpu = (statistics.median(b[i] for b in builds) for i in (0, 1))
        e2e = {
            "setup_s": (session[1] + build_cpu + workers[1]) * setup_scale,
            "setup_wall_s": session[0] + build_wall + workers[0],
        }
        log(f"setup (wall, cpu): session {session}, inputs {builds}, workers {workers}, "
            f"scale {setup_scale:.3f}")

        ops = Ops(wl, jvm_pid, probe)
        first = ops.iteration()
        warm = []
        while sum(w.wall_s for w in warm) < args.seconds:
            warm.append(ops.iteration())
        e2e.update(
            first_s=first.wall_s,
            first_cpu_s=first.cpu_s * first.scale,
            wall_s=statistics.median(w.wall_s for w in warm),
            cpu_s=statistics.median(w.cpu_s * w.scale for w in warm),
            host_speed=statistics.median(1 / w.scale for w in warm),
        )
        log(f"first {first}")
        for w in warm:
            log(f"warm {w}")
        stored_bytes = wl.stored_bytes()

        tracer = None
        if args.trace:
            wl.collect_payloads()
            tracer = spans.Tracer(sc)
            wl.instrument(tracer)
            try:
                traced_s = ops.iteration(tracer).wall_s
            finally:
                tracer.release()
            wl.run_kernels(tracer)
        jvm_mb, py_mb = peak_rss_mb(jvm_pid), peak_rss_mb()
        e2e["peak_rss_mb"] = jvm_mb + py_mb
        log(f"peak rss: jvm {jvm_mb:.0f} MiB, python {py_mb:.0f} MiB")
    finally:
        stop_session(spark)
    t = time.perf_counter()
    ops.failed += wl.settle()
    log(f"settle {time.perf_counter() - t:.2f}s")

    layers = {}
    if args.trace:
        (event_log,) = glob.glob(str(scratch / "events" / "*"))
        m = spans.span_metrics(spans.read_event_log(event_log), tracer.spans)
        root = m["workload"]
        derived = {
            "workload.py_run_share":
                root["py_run_s"] / root["exec_cpu_s"] if root["exec_cpu_s"] else 0.0,
            "workload.unattributed_share":
                root["unattributed_exec_s"] / root["exec_run_s"] if root["exec_run_s"] else 0.0,
            "workload.trace_overhead_s": traced_s - e2e["wall_s"],
            "warehouse.stored_bytes": stored_bytes,
        }
        for name, unit in per_layer_names():
            span, measure = name.rsplit(".", 1)
            value = derived[name] if name in derived else m.get(span, {}).get(measure, 0.0)
            layers[name] = {"value": value, "unit": unit}
    return e2e, layers, stored_bytes, ops


def main(argv=None) -> int:
    args = parse_args(argv)
    import speed
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    scratch = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    probe = speed.Probe()
    try:
        e2e, layers, stored_bytes, ops = run(args, scratch, probe)
    finally:
        probe.stop()
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(OSError):
            scratch.parent.rmdir()  # only when no other run is using it

    units = {**END_TO_END, **PRINTED}
    for name, value in e2e.items():
        print(f"{args.workload} {name} {value:.4f} {units[name]}")
    if stored_bytes:
        print(f"{args.workload} stored_bytes {stored_bytes:.0f} bytes")
    print(f"{args.workload} failed_ratio {ops.failed / ops.attempted:.4f} "
          f"({ops.failed}/{ops.attempted})")
    metrics = layers if args.trace else {
        k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
