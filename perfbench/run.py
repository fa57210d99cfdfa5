#!/usr/bin/env python3
"""KG-construction benchmark. Run from the repository root:

    python3 perfbench/run.py --workload nt_convert --seed 1 --seconds 1 --trace 0

One workload per invocation, on a local Spark session with one core per
CPU this process may use. The last line of standard output is a JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics, or with `--trace 1` the per-layer ones). See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_HEAP_MB = 4096


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def total_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure_env(root: str, work: str, cores: int, event_dir: str | None) -> None:
    """Everything the session needs, set before the JVM starts: Python
    workers import the package from the checkout, the driver heap stays
    well below physical RAM, and scratch files stay inside the checkout."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(DRIVER_HEAP_MB, total_ram_mb() // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: no hsperfdata file, which the JVM puts in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir is not None:
        os.makedirs(event_dir)
        # Spark 4 defaults to zstd-compressed rolling logs; the reader
        # needs one plain JSON-lines file
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def start_spark(cores: int):
    from rdf2smw_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(work: str) -> None:
    """Stop the session, then the JVM, and wait for both and for the
    Python workers it started."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while _run_pids(work) and time.monotonic() < deadline:
        time.sleep(0.2)


def remove_work(work: str) -> None:
    """Delete the run's directory, and `.perfbench_work` once it is empty."""
    shutil.rmtree(work, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(work))


def _run_pids(work: str) -> list[int]:
    """The processes the JVM started: their environment names this run's
    directory."""
    marker = f"SPARK_LOCAL_DIRS={os.path.join(work, 'spark-local')}".encode()
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if marker in fh.read().split(b"\0"):
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS count (VmHWM) at its current RSS,
    so the peak covers only what follows: the measured units, not the
    set-up's input generation."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def run(args, root: str, work: str) -> dict:
    import workloads

    cores = len(os.sched_getaffinity(0))
    event_dir = os.path.join(work, "events") if args.trace else None
    configure_env(root, work, cores, event_dir)

    # set-up: session start (the JVM's too) and input generation. There
    # is no warm-up unit: the measured unit is the process's first Spark
    # work, as it is in a CLI invocation (see README.md)
    t0 = time.perf_counter()
    spark = start_spark(cores)
    wl = workloads.WORKLOADS[args.workload]()
    wl.prepare(spark, work, args.seed)
    setup_s = time.perf_counter() - t0

    rec = wrapped = None
    if args.trace:
        import layers
        from spans import SpanRecorder, spark_group_setter

        rec = SpanRecorder(spark_group_setter(spark))
        wrapped = layers.install(rec)

    reset_peak_rss()
    units = []
    t_start = time.perf_counter()
    while not units or time.perf_counter() - t_start < args.seconds:
        units.append(wl.unit())
    rss_peak_mb = peak_rss_mb()
    if wrapped is not None:
        wrapped.restore()

    failed = sum(1 for u in units if not u.ok)
    timed = sum(u.wall_s for u in units)
    print(
        f"perfbench: workload={args.workload} seed={args.seed} units={len(units)} "
        f"failed={failed} failed_frac={failed / len(units):.4f} setup_s={setup_s:.2f} "
        f"wall_s={[round(u.wall_s, 2) for u in units]}",
        flush=True,
    )
    if args.trace:
        import layers
        from spans import EventLog

        app_id = spark.sparkContext.applicationId
        spark.stop()  # flushes and closes the event log
        log = EventLog.read(os.path.join(event_dir, app_id))
        values = layers.layer_metrics(rec, log, len(units), timed)
        metrics = {k: {"value": v, "unit": layers.unit_of(k)} for k, v in values.items()}
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(u.wall_s for u in units), "s"),
            "triples_per_s": (sum(u.triples for u in units) / timed, "1/s"),
            "docs_per_s": (sum(u.docs for u in units) / timed, "1/s"),
            "driver_rss_peak_mb": (rss_peak_mb, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return {"correct": failed == 0, "attempted": len(units), "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "rdf2smw_spark", "__init__.py")):
        print("perfbench: no rdf2smw_spark package here; run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, root, work)
    finally:
        stop_jvm(work)
        remove_work(work)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
