"""Benchmark command: run one workload, check its outputs, print metrics.

    python3 perfbench/run.py --workload dms_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root. The environment is pinned here: local Spark
on every available core, a Spark driver heap that fits the machine, the repo on
``PYTHONPATH`` for Python workers, no console progress bar, and every
store, warehouse and Spark scratch directory inside a per-run directory
under ``.perfbench_tmp/`` that is removed on exit. The last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``. The line before it is a report with the
workload-specific figures (read/write/search latencies with their tail
percentile and sample counts, failed-op share, traced overhead, the share
of CPU time the host stole); traced runs also write their spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _total_mem_gb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1024 * 1024)
    return 4


def pin_environment(root: str, tmp: str) -> dict[str, str]:
    """Environment for the session and its workers; returns the Spark conf
    the session is built with."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, sub))
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, _total_mem_gb() // 4))}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def jvm_peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the Spark JVM")


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and its Python workers, and wait for
    every one of them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    while procs and time.monotonic() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}") and _alive(p)]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    sys.path.insert(0, HERE)
    import stats

    busy0, steal0 = stats.cpu_jiffies()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dmshadoop_spark", "session.py")) or not os.path.isfile(
        os.path.join(root, "tests", "oracle_harness.py")
    ):
        print("run from the repository root (dmshadoop_spark/ and tests/ not found)", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    os.makedirs(os.path.join(root, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, ".perfbench_tmp"))
    spark = None
    try:
        conf = pin_environment(root, tmp)
        import metrics
        from tracing import Tracer

        run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
        tracer = Tracer(bool(args.trace), run_id)
        from dmshadoop_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", extra_conf=conf)
            spark.range(1).count()
        get_spark_s = time.perf_counter() - t0
        tracer.attach(spark.sparkContext)
        run = Run(spark, tracer, args.seed, args.seconds, os.path.join(tmp, "work"))
        WORKLOADS[args.workload](run)
        run.e2e["setup_s"] = run.setup_end - t_start
        from pyspark import SparkContext

        jvm_mb = jvm_peak_rss_mb(SparkContext._gateway.proc.pid)
        if tracer.enabled:
            run.layers["session.get_spark_s"] = get_spark_s
            for layer, s in tracer.self_times().items():
                run.layers[f"{layer}.self_s"] = s
            run.layers["trace.overhead_share"] = tracer.bookkeeping_s / (time.perf_counter() - t_start)
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"{run_id}.json"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    if tracer.enabled:
        chosen = {k: (run.layers.get(k, 0), unit) for k, (unit, _b, _m) in metrics.LAYER.items()}
    else:
        chosen = {k: (run.e2e[k], unit) for k, (unit, _b) in metrics.E2E.items()}
    busy1, steal1 = stats.cpu_jiffies()
    report = dict(run.report)
    report.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        traced_end_to_end=run.e2e if tracer.enabled else None,
        setup_s=run.e2e["setup_s"],
        trace_overhead_share=run.layers.get("trace.overhead_share"),
        run_wall_s=time.perf_counter() - t_start,
        session_get_spark_s=get_spark_s,
        jvm_peak_rss_mb=jvm_mb,
        failed_op_share=run.failed / max(1, run.attempted),
        calls_stolen_s=run.stolen_s,
        host_steal_share=(steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0),
        failures=run.failures,
    )
    print(json.dumps({"report": report}, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and not run.failures,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
