"""Replica benchmark: time a CDC consumer's streaming catch-up and a mix
of driver-contract queries end to end, check their results, and (with
``--trace 1``) split the time by layer.

    python3 perfbench/run.py --workload stream_catchup --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the full report (host, settings, sample counts, per-workload
detail). Every run works in its own directory under
``.perfbench_work/`` (Spark's warehouse, local dirs, temp files and
event log land there) and deletes it at exit; seed-independent
fixtures are built once into ``.perfbench_cache/``, and the full
report, spans included, is kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402 — the clock above starts set-up time
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

from spans import Tracer, attribute, median, read_event_log  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bottledwater_pg_spark"


class Context:
    def __init__(self, seed: int, work: str, cache_dir: str):
        self.seed = seed
        self.work = work
        self.cache_dir = cache_dir
        self.spark = None
        self.tracer = Tracer(False)


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg": list(os.getloadavg()),
        "cpu_ticks": cpu_ticks(),
    }


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta[:8]))


def pin_env(work: str, host: dict) -> dict:
    """Everything Spark and the package read from the environment,
    pointed at this run's directory and sized to the host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a quarter of host memory, 1-4 GiB: the package's 48g default
    # does not fit a shared 15 GB host
    mem_gb = max(1, min(4, host["mem_total_mb"] // 4096))
    env = {
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def spark_conf(work: str, event_log: bool) -> dict:
    conf = {
        # -XX:-UsePerfData: the JVM's perf counters would go to /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # Python here has no zstandard module to read the default
            "spark.eventLog.compress": "false",
        })
    return conf


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of one process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def shutdown_jvm() -> None:
    """Stop the gateway JVM (it exits when its stdin closes) and wait
    for it; its Python workers exit with it."""
    from pyspark import SparkContext

    proc = jvm_proc()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def job_floor_s(spark, n: int = 7) -> float:
    """Median wall time of a trivial one-task job (first two dropped)."""
    sc = spark.sparkContext
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        sc.parallelize([0], 1).count()
        times.append(time.perf_counter() - t0)
    return median(times[2:])


def loop(wl, seconds: float) -> None:
    """Closed loop: run operations back to back until ``seconds`` of
    operation time have passed (at least one)."""
    t0 = time.perf_counter()
    while True:
        wl.run_op(len(wl.ops))
        if time.perf_counter() - t0 >= seconds:
            return


def run(args, ctx: Context, host: dict, env: dict) -> dict:
    from bottledwater_pg_spark.session import get_spark

    phases = {"imports": time.perf_counter() - T_START}

    def phase(name, t0):
        phases[name] = time.perf_counter() - t0
        return time.perf_counter()

    t0 = time.perf_counter()
    ctx.spark = get_spark("perfbench", extra_conf=spark_conf(ctx.work, False))
    start_s = time.perf_counter() - t0
    t0 = phase("session", t0)
    wl = WORKLOADS[args.workload](ctx)
    floor = job_floor_s(ctx.spark) if args.trace else None
    wl.setup()
    setup_s = time.perf_counter() - T_START
    t0 = phase("workload_setup", t0)

    layers = None
    if not args.trace:
        loop(wl, args.seconds)
    else:
        # untraced half, then the same loop with the event log and
        # spans on: the difference is the tracing overhead
        loop(wl, args.seconds / 2)
        untraced = [op["wall"] for op in wl.ops]
        ctx.spark.stop()
        ctx.spark = get_spark("perfbench", extra_conf=spark_conf(ctx.work, True))
        ctx.tracer = Tracer(True, ctx.spark)
        undo = wl.install_trace()
        try:
            loop(wl, args.seconds / 2)
        finally:
            for u in undo:
                u()
        traced = [op["wall"] for op in wl.ops[len(untraced):]]

    t0 = phase("loop", t0)
    wl.check()
    t0 = phase("check", t0)
    if args.trace:
        wl.probes()
        t0 = phase("probes", t0)
    proc = jvm_proc()
    peak_rss_mb = vm_hwm_mb(os.getpid()) + (vm_hwm_mb(proc.pid) if proc else 0.0)
    ctx.spark.stop()
    t0 = phase("stop", t0)

    e2e, detail = wl.metrics()
    if args.trace:
        spans = ctx.tracer.export()
        attr = attribute(spans, read_event_log(os.path.join(ctx.work, "eventlog")))
        ops = [s for s in spans if s["name"] == "op" and s["end"]]

        def per_op(key):
            return median([attr[s["id"]][key] for s in ops])

        layers = {
            "session.start_s": start_s,
            "session.job_floor_s": floor,
            "op.jobs": per_op("jobs"),
            "op.tasks": per_op("tasks"),
            "op.shuffle_bytes": per_op("shuffle_bytes"),
            "op.spill_bytes": per_op("spill_bytes"),
            "op.executor_run_s": per_op("run_s"),
            "op.driver_s": median([
                (s["end"] - s["start"]) - attr[s["id"]]["stage_busy_s"]
                for s in ops
            ]),
            "trace.overhead_s": median(traced) - median(untraced),
        }
        detail["trace"] = {
            "untraced_op_s": untraced,
            "traced_op_s": traced,
            "layers": wl.layer_metrics(spans, attr),
        }
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "host_loadavg_end": list(os.getloadavg()),
        "host_cpu_steal": steal_share(host.pop("cpu_ticks"), cpu_ticks()),
        "env": env,
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "failed_frac": wl.failed / max(1, wl.attempted),
        "failures": wl.notes,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "ops": len(wl.ops),
        "phases_s": phases,
        "metrics": e2e,
        "detail": detail,
        "layers": layers,
        "spans": ctx.tracer.export(),
    }


E2E_UNITS = {"setup_s": "s", "pass_s": "s", "step_s": "s"}


def result_line(report: dict) -> dict:
    if report["trace"]:
        metrics = {
            k: {"value": v, "unit": _layer_unit(k)}
            for k, v in report["layers"].items()
        }
    else:
        values = dict(report["metrics"], setup_s=report["setup_s"])
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    return {"correct": report["correct"], "attempted": report["attempted"],
            "failed": report["failed"], "metrics": metrics}


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package beside {HERE}; run it "
              f"from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    host = host_info()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    env = pin_env(work, host)
    os.chdir(work)
    ctx = Context(args.seed, work, os.path.join(ROOT, ".perfbench_cache"))
    try:
        report = run(args, ctx, host, env)
    finally:
        shutdown_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as fh:
        json.dump(report, fh, indent=1)
    report.pop("spans")
    print(json.dumps(report))
    print(json.dumps(result_line(report)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
