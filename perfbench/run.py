"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload pipe_cadence --seed 1 --seconds 10 --trace 0

Run it from the repository root. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` wraps the engine's layer functions and reports
the per-layer metrics instead. Everything the run writes stays under
``.perfbench_work/`` in the repository: per-run scratch (pipe instances,
Spark local dirs, temp files), deleted at exit, and
``results/<workload>-seed<n>-trace<t>.json`` with the metrics, the
environment record, sample counts and, for traced runs, the spans.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

WORKLOADS = ("pipe_cadence", "pipe_bulk")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp and spill location at ``run_dir`` and pin the
    session to all CPUs this process may use; returns Spark confs."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark"]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["spark"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the session launched and every
    process under it (the Python worker daemon and its workers), and
    wait until each has ended."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    procs = [proc.pid, *_descendants(proc.pid)] if proc is not None else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor ran other guests while this machine's
    vCPUs were ready (``steal`` in ``/proc/stat``); 0 where not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def environment(spark, load_start: float) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "load_1min_start": load_start,
    }


def calibration_probe(spark, run_dir: str) -> dict:
    """A fixed Spark aggregate and one tiny sync (ten pandas rows into a
    new pipe), timed. A diagnostic of the host's speed during this run,
    not a metric."""
    import pandas as pd

    from meerschaum_spark import Pipe

    t0 = time.perf_counter()
    spark.range(0, 5_000_000, 1, 4).selectExpr("sum(pmod(id * 7, 13))").collect()
    agg_s = time.perf_counter() - t0
    pipe = Pipe("perfbench", "probe", instance=os.path.join(run_dir, "probe"),
                spark=spark, columns={"datetime": "ts", "id": "id"})
    rows = pd.DataFrame({"ts": pd.date_range("2024-01-01", periods=10, freq="h"),
                         "id": range(10), "value": [float(i) for i in range(10)]})
    t0 = time.perf_counter()
    pipe.sync(rows)
    return {"range_agg_s": agg_s, "tiny_sync_s": time.perf_counter() - t0}


def results_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{trace}.json")


def tracing_overhead(args, end_to_end: dict) -> dict | None:
    """Traced minus untraced end-to-end metrics, when the other mode's
    result for the same workload and seed is on disk."""
    other = results_path(args.workload, args.seed, 1 - args.trace)
    try:
        with open(other) as f:
            other_e2e = json.load(f)["end_to_end"]
    except (OSError, KeyError, ValueError):
        return None
    traced, untraced = ((end_to_end, other_e2e) if args.trace
                        else (other_e2e, end_to_end))
    return {k: traced[k] - untraced[k] for k in traced if k in untraced}


def main(argv=None) -> int:
    args = parse_args(argv)
    # fail fast, before any set-up, when the engine is not beside us
    import meerschaum_spark  # noqa: F401

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(WORK, "runs"))
    try:
        confs = isolate(run_dir)
        load_start = os.getloadavg()[0]
        steal_start = cpu_steal_s()
        from meerschaum_spark.session import get_spark
        from perfbench import workloads
        from perfbench.tracing import Tracer

        spark = get_spark("perfbench", extra_confs=confs)
        spark_ready = time.perf_counter() - PROCESS_START
        try:
            env = environment(spark, load_start)
            tracer = Tracer(spark, bool(args.trace))
            log, e2e, layers = workloads.run_pipe_workload(
                spark, tracer, args.workload, args.seed, args.seconds, run_dir)
            # set-up less the harness's own work (input frames, model, checks)
            e2e["setup_s"] = (log.loop_start - PROCESS_START - log.setup_harness_s, "s")
            log.phases["spark_session"] = spark_ready
            log.phases["setup_harness"] = log.setup_harness_s
            env["calibration"] = calibration_probe(spark, run_dir)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    env["load_1min_end"] = os.getloadavg()[0]
    env["cpu_steal_s"] = cpu_steal_s() - steal_start

    end_to_end = {k: v for k, (v, _u) in e2e.items()}
    shown = layers if args.trace else e2e
    result = {
        "correct": log.failed == 0,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "result": result, "env": env,
              "end_to_end": end_to_end, "samples": log.samples()}
    if args.trace:
        record["tracing_overhead"] = tracing_overhead(args, end_to_end)
        record["trace"] = tracer.dump()
    os.makedirs(os.path.dirname(results_path(args.workload, args.seed, args.trace)),
                exist_ok=True)
    with open(results_path(args.workload, args.seed, args.trace), "w") as f:
        json.dump(record, f)
    print("perfbench env: " + json.dumps(env), file=sys.stderr)
    print("perfbench samples: " + json.dumps(record["samples"]), file=sys.stderr)
    if args.trace:
        print("perfbench tracing overhead (traced - untraced): "
              + json.dumps(record["tracing_overhead"]), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
