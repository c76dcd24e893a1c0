"""Benchmark of the paper's three user-facing operations.

Run from the root of a checkout:

    python3 perfbench/run.py --workload metrics_from_masks --seed 1 --seconds 10 --trace 0

One process, Spark ``local[4]`` with the default ``session.get_spark``
settings and 8 shuffle partitions. Closed loop: one call at a time, the
next starting once the previous call's outputs are fully written or
collected. Every output is checked outside the timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
layers one span at a time with the Spark event log on and prints the
per-layer metrics (see layers.py). The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. Lines before it
give a readable table and the host-noise context (CPU steal, load).

Everything the run writes goes to ``.perfbench_work/`` at the checkout
root, which is emptied at the start and removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

SETUP_REPS = 3  # setup_s takes the median of this many materializations
MIN_CALLS = 1  # timed calls per run, at least
MAX_FAILED = 3  # stop early once this many calls have failed
MAX_LOOP_S = 100.0  # stop timing early rather than miss the run deadline

END_TO_END = {
    "wall_s": "s",
    "images_per_s": "1/s",
    "setup_s": "s",
    "out_bytes_per_image": "bytes",
}


def host_sample() -> dict:
    """CPU time counters from /proc/stat and the 1-minute load."""
    with open("/proc/stat") as f:
        cpu = [int(v) for v in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"total": sum(cpu), "steal": cpu[7] if len(cpu) > 7 else 0, "load1": load1}


def host_context(a: dict, b: dict) -> dict:
    total = max(b["total"] - a["total"], 1)
    return {"steal_frac": (b["steal"] - a["steal"]) / total,
            "load1_start": a["load1"], "load1_end": b["load1"]}


def start_session(event_log_dir: str | None = None):
    from irivermetrics_spark.session import get_spark

    tmp = WORK / "tmp"
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(event_log_dir).as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master="local[4]", shuffle_partitions=8, extra_conf=conf)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits on stdin EOF
        proc.wait(timeout=60)


class Caller:
    """Runs and checks calls, counting attempts and failures."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.out_bytes: list[int] = []

    def __call__(self) -> float | None:
        """One timed call; its wall in seconds, or None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = self.wl.call()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        wall = time.perf_counter() - t0
        self.verify(out)
        self.wl.after_call()
        return wall

    def verify(self, out) -> None:
        try:
            ok = self.wl.check(out)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            print(f"perfbench: {self.wl.name} output failed its correctness check", file=sys.stderr)
            self.failed += 1
        self.out_bytes.append(self.wl.out_bytes(out))


def run_untraced(wl_cls, seed: int, seconds: float) -> tuple[Caller, dict, dict]:
    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    try:
        wl = wl_cls(spark, str(WORK))
        t0 = time.perf_counter()
        wl.synthesize(seed)
        synth_s = time.perf_counter() - t0
        setups = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.materialize()
            setups.append(time.perf_counter() - t0)
        caller = Caller(wl)
        first = caller()
        for _ in range(wl.warmup_calls):
            caller()
        walls: list[float] = []
        loop_start = time.perf_counter()
        while sum(walls) < seconds or len(walls) < MIN_CALLS:
            if time.perf_counter() - loop_start > MAX_LOOP_S or caller.failed >= MAX_FAILED:
                break
            wall = caller()
            if wall is not None:
                walls.append(wall)
        peak_rss = jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)
    if not walls:
        raise RuntimeError(f"{wl.name}: no successful timed call")
    wall_s = statistics.median(walls)
    metrics = {
        "wall_s": wall_s,
        "images_per_s": wl.size.n_images / wall_s,
        "setup_s": session_s + synth_s + statistics.median(setups),
        "out_bytes_per_image": statistics.median(caller.out_bytes) / wl.size.n_images,
    }
    # single samples per run, too noisy to bound (see NOTES.md): context only
    info = {"first_call_s": first, "peak_rss_mb": peak_rss, "walls_s": walls,
            "session_s": session_s, "synth_s": synth_s, "materialize_s": setups,
            "failed_frac": caller.failed / caller.attempted}
    return caller, {k: (v, END_TO_END[k]) for k, v in metrics.items()}, info


def run_traced(wl_cls, seed: int) -> tuple[Caller, dict, dict]:
    import layers

    log_dir = WORK / "eventlog"
    log_dir.mkdir(parents=True)
    spark = start_session(str(log_dir))
    try:
        spark.sparkContext.setJobGroup("count", "perfbench outside layer spans")
        wl = wl_cls(spark, str(WORK))
        wl.synthesize(seed)
        wl.materialize()
        caller = Caller(wl)
        caller()  # first call: worker start-up and first-use costs stay out of the spans
        untraced = caller()
        tracer = layers.Tracer(spark)
        out, counts = layers.trace_workload(wl, tracer)
        caller.attempted += 1
        caller.verify(out)
    finally:
        stop_session(spark)
    if untraced is None:
        raise RuntimeError(f"{wl.name}: the untraced call failed")
    groups = layers.parse_event_log(layers.find_event_log(str(log_dir)))
    values = layers.layer_metrics(tracer.walls, groups, counts, untraced)
    units = layers.metric_units()
    info = {"untraced_wall_s": untraced,
            "failed_frac": caller.failed / caller.attempted}
    return caller, {k: (values[k], units[k]) for k in units}, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "irivermetrics_spark" / "__init__.py").is_file():
        print(f"perfbench: no irivermetrics_spark package under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    # Spark, its Python workers and tempfile all stay inside the checkout
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    before = host_sample()
    try:
        if args.trace:
            caller, metrics, info = run_traced(wl_cls, args.seed)
        else:
            caller, metrics, info = run_untraced(wl_cls, args.seed, args.seconds)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    info.update(host_context(before, host_sample()))

    size = wl_cls.size
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"scenes={size.n_scenes} dates={size.n_dates} sections={size.n_sections} "
          f"images={size.n_images}")
    for name, (value, unit) in metrics.items():
        print(f"#   {name:<32} {value:>16.6g} {unit}")
    print("# context " + json.dumps(info))
    print(json.dumps({
        "correct": caller.failed == 0,
        "attempted": caller.attempted,
        "failed": caller.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
