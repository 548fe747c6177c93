"""Benchmark command: one workload, closed loop, one client, sequential ops.

    python3 perfbench/run.py --workload headline_sf0.1 --seed 1 --seconds 20 --trace 0

Run from the repository root. A run finds (or generates) its data, works out
the expected outputs in a child process, starts a Spark session on
``local[<cores>]``, runs one warm-up pass that also checks every op's
output, then measures passes until ``--seconds`` have gone by (at least the
workload's fewest passes, two or three). ``pass_s`` sums each op's fastest
time over the measured passes, so a stall of the shared host in one pass
does not count. With ``--trace 1`` it then runs one more pass with the
tracer installed and reports per-layer numbers, with the tracing overhead
as the traced pass minus the median untraced pass.

Every run works in its own directory under ``.perfbench_runs/``: a fresh
index cache, Spark local and temp dirs, cwd for ``spark-warehouse/`` and
``derby.log``, and the warehouse tables. It is removed at the end; the
traced run's spans are kept in ``.perfbench_runs/trace-<workload>.json``.

stdout: a detail JSON line (host record, per-op times, failures), then
the result line ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
T_START = time.perf_counter()

# workload: (base scale factor, gen_scale_data replicas, fewest measured passes)
#
# The JVM keeps warming for several passes after the warm-up pass (in one
# interactive run: 7.4, 5.6, 5.1, 4.9 s). On interactive_sf0.1 an op's
# fastest time over two measured passes still falls on a steep part of that
# curve: across ten seeds pass_s spread 0.16 (IQR over median) over two
# passes and 0.12 over three, on the same runs. On warehouse_load_sf0.1 a
# third pass did not narrow it (0.125 over two passes and over three) and
# costs about 11 s of a run that has to fit the time budget.
WORKLOADS = {
    "interactive_sf0.1": (0.1, 1, 3),
    "headline_sf0.1": (0.1, 1, 2),
    "relational_sf1": (0.1, 10, 2),
    "curation_sf0.1": (0.1, 1, 2),
    "warehouse_load_sf1": (0.1, 10, 2),
    "warehouse_load_sf0.1": (0.1, 1, 2),
}


def unit(name: str) -> str:
    if name.endswith(("ratio", "share", "per_user_byte", "busy_cores", "stage_skew")):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_s") or "_s." in name:
        return "s"
    return "count"


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the processes' peak resident memory from their current one."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    """Summed peak resident memory of the processes since their last reset."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(round(q * len(xs) + 0.5)) - 1))] if xs else 0.0


def isolate(run_dir: str, trace: bool) -> None:
    """Per-run state: index cache, Spark dirs, temp dir; workers import
    the engine from this checkout."""
    for sub in ("index_cache", "spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_INDEX_CACHE"] = os.path.join(run_dir, "index_cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if trace:
        conf = (f"spark.eventLog.enabled=true;spark.eventLog.dir=file://{run_dir}/eventlog;"
                "spark.eventLog.compress=false;spark.eventLog.rolling.enabled=false")
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(
            filter(None, [os.environ.get("SPARK_GRAFT_EXTRA_CONF"), conf]))


class Runner:
    def __init__(self, wl, spark, gc):
        self.wl, self.spark, self.gc = wl, spark, gc
        self.tracer = None
        self.attempted = 0
        self.failures: dict[str, str] = {}

    def run_pass(self, pass_no: int, checked: bool = False):
        """Run one pass, checking each op's output when ``checked``;
        returns (seconds in ops, [(op, kind, seconds)])."""
        tr = self.tracer
        pass_span = tr.begin(f"pass{pass_no}", "pass") if tr else None
        wall, times = 0.0, []
        for op in self.wl.ops(pass_no):
            self.attempted += 1
            err = None
            self.gc(self.spark)  # start every op from a collected heap, outside its time
            t0 = time.perf_counter()
            try:
                if tr:
                    tr.set_op(op.name)
                    op_span = tr.begin(op.name, "op")
                    try:
                        obj = tr.span("build", "build", op.build)
                        if op.kind != "write":
                            tr.plan(obj)
                        out = tr.span("exec", "exec", op.run, obj)
                    finally:
                        tr.end(op_span)
                    tr.after_op()
                else:
                    obj = op.build()
                    out = op.run(obj)
                dt = time.perf_counter() - t0
                if checked:
                    err = self.wl.check(op, obj, out)
            except Exception as e:  # an op that fails counts in error_rate
                dt = time.perf_counter() - t0
                traceback.print_exc()
                err = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
            wall += dt
            times.append((op.name, op.kind, dt))
            if err:
                self.failures[f"pass{pass_no}:{op.name}"] = err
                print(f"FAIL pass{pass_no} {op.name}: {err}", file=sys.stderr)
        if tr:
            tr.end(pass_span)
        return wall, times

    def check_pass(self, pass_no: int) -> None:
        """The workload's checks of what a finished pass left behind."""
        for check, err in self.wl.after_pass(pass_no).items():
            self.failures[f"pass{pass_no}:{check}"] = err
            print(f"FAIL pass{pass_no} {check}: {err}", file=sys.stderr)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                with contextlib.suppress(OSError):
                    proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the workload's scale factor (the self-test uses 0.01)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dwh_with_dask_spark")) or not os.path.exists(
            os.path.join(ROOT, "bench.py")):
        print(f"perfbench: the engine sources are missing under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    sf, replicas, min_passes = WORKLOADS[args.workload]
    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    isolate(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)  # the engine is imported only after isolate() set its env
    try:
        return measure(args, run_dir, sf * args.scale, replicas, min_passes)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def fmt(metrics: dict) -> dict:
    return {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def measure(args, run_dir, sf, replicas, min_passes) -> int:
    import datagen
    import numpy as np

    data_dir, gen_s = datagen.ensure_data(sf, replicas)
    log(f"data {data_dir} (generated in {gen_s:.1f} s)")
    os.chdir(run_dir)
    import bench
    import workloads as W
    from dwh_with_dask_spark.session import get_spark
    from spans import Tracer

    rng = np.random.default_rng(args.seed)
    host = {"nproc": len(os.sched_getaffinity(0)), "loadavg_before": loadavg()}
    ticks0 = cpu_ticks()
    log("imported")
    wl = W.make(args.workload, None, data_dir, args.seed, rng, os.path.join(run_dir, "tables"))
    log("workload prepared")

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    wl.spark = spark
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    # peak_rss_mb: the driver JVM plus this process, over the measured passes
    rss_pids = [os.getpid()] + ([jvm.pid] if jvm else [])
    runner = Runner(wl, spark, bench.jvm_gc)
    try:
        log(f"session started in {start_s:.2f} s")
        warm_s, warm_ops = runner.run_pass(0, checked=True)
        runner.check_pass(0)
        log(f"warm-up pass {warm_s:.2f} s")
        gc.collect()
        runner.gc(spark)
        reset_peak_rss(rss_pids)
        passes, op_times = [], []
        while len(passes) < min_passes or sum(passes) < args.seconds:
            s, times = runner.run_pass(len(passes) + 1)
            passes.append(s)
            op_times += times
            log(f"pass {len(passes)} {s:.2f} s")
        rss_mb = peak_rss_mb(rss_pids)
        runner.check_pass(len(passes))
        per_op: dict[str, list[float]] = {}
        for name, _, t in op_times:
            per_op.setdefault(name, []).append(t)
        op_best = [min(ts) for ts in per_op.values()]
        e2e = {
            "setup_s": start_s + warm_s,
            "pass_s": sum(op_best),
            "peak_rss_mb": rss_mb,
        }
        layer = {}
        if args.trace:
            tracer = Tracer(spark, args.workload)
            runner.tracer = tracer
            tracer.install()
            try:
                traced_s, _ = runner.run_pass(len(passes) + 1)
            finally:
                tracer.uninstall()
            host["anchor"] = bench.anchor_sec(spark, runs=1)
        extra = wl.extra_metrics()
    finally:
        stop_spark(spark)
        log("session stopped")
    host["loadavg_after"] = loadavg()
    # share of CPU time the hypervisor gave to other guests during the run
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    host["steal_share"] = steal / total if total else 0.0

    by_kind = {k: [t for _, kind, t in op_times if kind == k] for k in ("write", "read")}
    detail = {
        "workload": args.workload, "seed": args.seed, "data_dir": data_dir, "datagen_s": gen_s,
        "host": host, "session_start_s": start_s, "warmup_pass_s": warm_s,
        "warmup_op_times": warm_ops, "passes_s": passes, "ops": len(op_times),
        "op_times": op_times, "op_s.p50": statistics.median(op_best),
        "op_s.gmean": statistics.geometric_mean(op_best),
        "failures": runner.failures, "error_rate": len(runner.failures) / runner.attempted,
        **({"op_s.p90": pct([t for _, _, t in op_times], 0.9)} if len(op_times) >= 100 else {}),
    }
    if args.trace:
        import layers

        tracer.attach_jobs(os.path.join(run_dir, "eventlog"))
        layer = layers.metrics(tracer, start_s, traced_s - statistics.median(passes))
        layer.update({
            "write_s.p50": pct(by_kind["write"], 0.5), "write_s.p90": pct(by_kind["write"], 0.9),
            "read_s.p50": pct(by_kind["read"], 0.5), "read_s.p90": pct(by_kind["read"], 0.9),
            "op_s.p50": statistics.median(op_best),
            "op_s.gmean": statistics.geometric_mean(op_best),
            "bytes_written_per_user_byte": extra.get("bytes_written_per_user_byte", 0.0),
            "bytes_stored_per_user_byte": extra.get("bytes_stored_per_user_byte", 0.0),
            "versioned.bytes_written": extra.get("bytes_written", 0),
        })
        detail["traced_pass_s"] = traced_s
        detail["per_op_unattributed"] = layers.unattributed(tracer)
        detail["per_op_uncovered"] = layers.uncovered(tracer)
        path = os.path.join(RUNS_DIR, f"trace-{args.workload}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed, "metrics": layer})
        detail["trace_file"] = path
    detail["end_to_end"] = fmt(e2e)
    print(json.dumps(detail, default=str))
    failed = len(runner.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": fmt(layer if args.trace else e2e),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
