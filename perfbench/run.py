"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload reviews_chisq --seed 1 --seconds 8 --trace 0

Builds the seeded inputs and expected outputs (perfbench/prepare.py, outside
every timed region), pins the environment, starts one Spark driver through
``session.get_spark``, warms it up, runs operations back to back for
``--seconds``, checks every output, and prints one ``metric`` line per
metric followed by the result as a JSON object on the last line.
``--trace 1`` runs the traced variant and reports the per-layer metrics
instead of the end-to-end ones (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
MAX_LOOP_S = 90.0  # hard stop for the measuring loop, whatever --seconds says
ORACLE_TIMEOUT_S = 60.0  # the expected outputs take a few seconds
# The driver heap: capped through the program's own SPARK_GRAFT_DRIVER_MEM
# (8g by default) and fixed in size with -Xms. A heap the JVM grows by GC
# ergonomics makes peak RSS follow GC timing (2.8-6.4 GB between runs under
# the 8g default; 1.5-2.1 GB under a 2g cap without -Xms). With the heap's
# share constant, peak_rss_mb follows the memory the program uses outside
# the Java heap: JVM off-heap, the Python driver and Python workers.
DRIVER_MEM = "2g"
_T0 = time.perf_counter()


def _phase(name: str) -> None:
    """Log on stderr when each phase of the run starts."""
    print(f"perfbench: {time.perf_counter() - _T0:7.2f} s {name}", file=sys.stderr, flush=True)


def _program_missing() -> str | None:
    for rel in ("dic_a1_spark/session.py", "dic_a1_spark/registry.py",
                "tests/reference_impl.py", "tests/oracle_utils.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def _pin_environment(run_dir: str, trace: bool) -> dict:
    """Fix everything the session factory reads from the environment, and
    keep every file Spark writes inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    log_dir = os.path.join(run_dir, "eventlog")
    for d in (tmp, os.path.join(run_dir, "spark-local"), log_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_MASTER", None)
    # -XX:-UsePerfData: no hsperfdata files in /tmp, for the launcher JVM too.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    java_opts = f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = f"--conf 'spark.driver.extraJavaOptions={java_opts}' " \
        "--conf spark.ui.showConsoleProgress=false "
    if trace:
        args += "--conf spark.eventLog.enabled=true " \
                f"--conf spark.eventLog.dir=file://{log_dir} " \
                "--conf spark.eventLog.compress=false " \
                "--conf spark.eventLog.rolling.enabled=false "
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + "pyspark-shell"
    return {"nproc": nproc, "event_log": log_dir if trace else None}


def _tail(lat: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten samples
    beyond it; the maximum when fewer than eleven samples exist."""
    xs = sorted(lat)
    n = len(xs)
    if n >= 11:
        return xs[n - 11], 100.0 * (n - 10) / n
    return xs[-1], 100.0


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _measure(wl, seconds: float, min_cycles: int, tracer=None) -> tuple[list, float]:
    """Closed loop: run operations back to back, in whole cycles of
    ``wl.cycle`` operations, until ``seconds`` have passed and at least
    ``min_cycles`` cycles ran. With a ``tracer``, each operation runs twice
    in a row, once traced, the traced run first in every other pair.
    Returns ([(latency, out, traced)], wall)."""
    per_cycle = wl.cycle * (1 if tracer is None else 2)
    done = []
    start = time.perf_counter()
    while True:
        n = len(done)
        traced = tracer is not None and (n % 2 == 1) != ((n // 2) % 2 == 1)
        if tracer is not None:
            tracer.enabled = traced
        a = time.perf_counter()
        try:
            out = wl.op(n // 2 if tracer is not None else n, traced)
        except Exception:  # a failed operation is counted, the loop goes on
            _log(traceback.format_exc())
            out = None
        b = time.perf_counter()
        done.append((b - a, out, traced))
        cycle_done = len(done) % per_cycle == 0
        if cycle_done and (b - start >= MAX_LOOP_S or (b - start >= seconds and len(done) >= min_cycles * per_cycle)):
            if tracer is not None:
                tracer.enabled = False
            return done, b - start


def _verify(wl, done: list) -> int:
    failed = 0
    for _, out, _ in done:
        reason = "raised" if out is None else wl.verify(out)
        if reason is not None:
            failed += 1
            _log(f"wrong output: {reason}")
    return failed


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=20)


def _env_info(spark, manifest: dict, pinned: dict) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    sizes = {k: v for k, v in manifest.items() if not k.endswith("_path") and k != "sf_dir"}
    return {
        "nproc": pinned["nproc"],
        "spark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "inputs": sizes,
    }


def _warm_up(wl, oracle: subprocess.Popen) -> None:
    """Untimed warm-up: ``wl.warm_up_rounds`` rounds, and more while the
    oracle subprocess computes the expected outputs (for at most
    ``ORACLE_TIMEOUT_S``)."""
    deadline = time.perf_counter() + ORACLE_TIMEOUT_S
    k = 0
    while k < wl.warm_up_rounds or (oracle.poll() is None and time.perf_counter() < deadline):
        wl.warm_up(k)
        k += 1
        _phase(f"warm-up round {k} done")
    if oracle.wait(timeout=max(0.0, deadline - time.perf_counter())) != 0:
        raise RuntimeError("computing the expected outputs failed")


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = _program_missing()
    if missing is not None:
        _log(f"perfbench: the program is not here ({missing} missing)")
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload!r}")
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    prepare = [sys.executable, os.path.join(HERE, "prepare.py")]
    wl_args = ["--workload", args.workload, "--dir", os.path.join(run_dir, "inputs")]
    try:
        _phase("inputs")
        subprocess.run(prepare + ["inputs", "--seed", str(args.seed)] + wl_args,
                       check=True, stdout=subprocess.DEVNULL)
        with open(os.path.join(run_dir, "inputs", "manifest.json")) as fh:
            manifest = json.load(fh)
        pinned = _pin_environment(run_dir, bool(args.trace))
        result = _run(args, WORKLOADS[args.workload], manifest, pinned,
                      prepare + ["expected"] + wl_args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, value in result["metrics"].items():
        print(f"metric {name} {value:.6g} {UNITS[name]}", flush=True)
    result["metrics"] = {k: {"value": float(v), "unit": UNITS[k]} for k, v in result["metrics"].items()}
    print(json.dumps(result), flush=True)
    return 0


def _run(args, cls, manifest: dict, pinned: dict, oracle_cmd: list, run_dir: str) -> dict:
    """Set up, warm up, measure and verify; return the result object."""
    import tracing

    trace = bool(args.trace)
    tracer = tracing.Tracer(enabled=trace)
    with tracing.RssSampler() as rss:
        _phase("setup")
        t0 = time.perf_counter()
        with tracer.span("session.get_spark") as s_spark:
            from dic_a1_spark.session import get_spark

            spark = get_spark()
        try:
            # The first job: a fixed small shuffle, the same on every workload.
            spark.range(0, 100_000, numPartitions=pinned["nproc"]) \
                .selectExpr("id % 97 AS k").groupBy("k").count().collect()
            setup_s = time.perf_counter() - t0
            tracer.sc = spark.sparkContext
            print("env " + json.dumps(_env_info(spark, manifest, pinned)), flush=True)

            wl = cls(spark, tracer, manifest, os.path.join(run_dir, "out"), args.seed, pinned["nproc"])
            tracer.enabled = False
            rss.recording = False  # peak RSS covers set-up and the measured loop
            oracle = subprocess.Popen(oracle_cmd, stdout=subprocess.DEVNULL)
            rss.exclude.add(oracle.pid)
            try:
                _warm_up(wl, oracle)
            finally:
                if oracle.poll() is None:
                    oracle.kill()
                oracle.wait()
            with open(os.path.join(run_dir, "inputs", "expected.json")) as fh:
                wl.exp = json.load(fh)

            _phase("measure")
            rss.recording = True
            # A traced run runs each operation untraced, then traced, in the
            # same warm session; the difference is the tracing overhead.
            n_spans = len(tracer.spans)
            if trace:
                done, wall = _measure(wl, args.seconds, wl.trace_cycles, tracer)
            else:
                done, wall = _measure(wl, args.seconds, wl.min_cycles)
            op_roots = {s.id for s in tracer.spans[n_spans:] if s.parent is None}
            rss.recording = False
            _phase("verify")
            failed = _verify(wl, done)
            if trace:
                tracer.enabled = True
                layers = wl.layers()
                written = [wl.bytes_written(out) for _, out, _ in done if out is not None]
        finally:
            _phase("stop")
            _stop_spark(spark)
    _phase("report")

    print(f"note failed_ratio {failed / len(done):.4f} ({failed} of {len(done)} failed)", flush=True)
    if trace:
        metrics = _per_layer(tracer, wl, pinned, s_spark.dur, op_roots, done, written, layers)
    else:
        metrics = _end_to_end(wl, done, wall, setup_s, rss.peak)
    return {"correct": failed == 0, "attempted": len(done), "failed": failed, "metrics": metrics}


def _end_to_end(wl, done: list, wall: float, setup_s: float, peak_rss: int) -> dict:
    lat = [t for t, _, _ in done]
    ok = [(t, out) for t, out, _ in done if out is not None]
    tail, pct = _tail(lat)
    print(f"note query_tail_ms is p{pct:.1f} of {len(lat)} operations", flush=True)
    busy = sum(t for t, _ in ok)
    rate = lambda amount: sum(amount(o) for _, o in ok) / busy if ok else 0.0  # noqa: E731
    cycles = [sum(lat[i:i + wl.cycle]) for i in range(0, len(lat), wl.cycle)]
    return {
        "setup_s": setup_s,
        "job_s": statistics.median(cycles),
        "records_per_s": rate(wl.records),
        "input_mb_per_s": rate(wl.input_bytes) / 1e6,
        "query_p50_ms": 1e3 * statistics.median(lat),
        "query_tail_ms": 1e3 * tail,
        "queries_per_s": len(done) / wall,
        "peak_rss_mb": peak_rss / 1e6,
    }


def _per_layer(tracer, wl, pinned: dict, get_spark_s: float, op_roots: set, done: list,
               written: list, layers: dict) -> dict:
    import tracing

    log = tracing.EventLog.parse(pinned["event_log"])
    n_ops = max(1, len(op_roots))
    totals = log.totals(tracer.descendants(op_roots))
    per_op = {k: v / n_ops for k, v in totals.items()}
    op_wall = sum(tracer.spans[r].dur for r in op_roots) / n_ops

    metrics = {m["name"]: 0.0 for m in BENCH["per_layer"]}
    metrics.update({
        "session.get_spark_s": get_spark_s,
        "spark.jobs": per_op["jobs"],
        "spark.stages": per_op["stages"],
        "spark.tasks": per_op["tasks"],
        "spark.core_busy_ratio": per_op["run_s"] / (op_wall * pinned["nproc"]),
        "spark.shuffle_write_bytes": per_op["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": per_op["shuffle_read_bytes"],
        "spark.spill_bytes": per_op["spill_bytes"],
        "spark.task_skew": totals["task_skew"],
        "spark.executor_cpu_s": per_op["cpu_s"],
        "spark.gc_s": per_op["gc_s"],
        "spark.failed_tasks": totals["failed_tasks"],
        "trace.overhead_ms": 1e3 * statistics.median(
            (a[0] - b[0]) if a[2] else (b[0] - a[0]) for a, b in zip(done[::2], done[1::2])),
        "sinks.bytes_written": statistics.median(w for w in written if w) if any(written) else 0.0,
    })
    metrics.update(layers)
    metrics.update(wl.log_layers(log, per_op))
    for name, secs in sorted(tracer.self_times().items()):
        print(f"self {name} {secs:.4f} s", flush=True)
    return metrics


if __name__ == "__main__":
    sys.exit(main())
