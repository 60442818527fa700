"""KG-construction benchmark: closed-loop workloads over the engine's
public functions (one client; each op starts after the previous one
completes) on ``local[nproc]``.

Run from the repository root:

    python3 perfbench/run.py --workload resolve --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the
separate traced run and prints the per-layer metrics.  The last line of
standard output is one JSON object ``{correct, attempted, failed,
metrics}``.  See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(REPO, ".perfbench_work")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """1.5 GiB, or a quarter of RAM if less: the inputs need far less, and
    the host's memory is shared with the Python workers."""
    with open("/proc/meminfo") as fh:
        kib = int(fh.readline().split()[1])
    return f"{min(1536, kib // 4 // 1024)}m"


def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    n, mem = _nproc(), _driver_memory()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData "
                # the whole heap resident from the start: how far the
                # collector grows it varies from run to run
                f"-Xms{mem} -XX:+AlwaysPreTouch")
        # the workers import the engine from the checkout, wherever the
        # benchmark is started from
        .config("spark.executorEnv.PYTHONPATH", REPO)
        # one resolve op generates ~170 distinct classes; with Spark's
        # default of 100 cache entries every op recompiles most of them,
        # and the JIT keeps compiling the new classes op after op
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(work, "events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every process this
    benchmark started to end."""
    from pyspark import SparkContext

    from perfbench.procstat import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [p for p in process_tree() if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


class Loop:
    """The closed loop: one op at a time, at least ``min_ops`` of them,
    until ``seconds`` have passed.  In a traced run every op is traced."""

    def __init__(self, wl, rec, seconds: float, min_ops: int, max_ops: int):
        self.wl, self.rec = wl, rec
        self.seconds, self.min_ops, self.max_ops = seconds, min_ops, max_ops
        self.walls, self.cpus, self.written = [], [], []
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.last = None  # (k, result) of the last op that succeeded

    def run(self) -> None:
        from perfbench import procstat

        start, k = time.perf_counter(), 1
        while k <= self.max_ops and (
            self.attempted < self.min_ops
            or time.perf_counter() - start < self.seconds
        ):
            self.attempted += 1
            c0, w0 = procstat.tree_cpu_seconds(), time.perf_counter()
            try:
                if self.rec is not None:
                    with self.rec.span("op", k):
                        res = self.wl.op(k)
                else:
                    res = self.wl.op(k)
                wall = time.perf_counter() - w0
                cpu = procstat.tree_cpu_seconds() - c0
                errs = self.wl.check_op(k, res)
            except Exception:
                traceback.print_exc()
                self.failed += 1
                self.errors.append(f"op {k} raised")
                k += 1
                continue
            if errs:
                self.failed += 1
                self.errors += errs
            self.last = (k, res)
            self.walls.append(wall)
            self.cpus.append(cpu)
            self.written.append(res["bytes_written"])
            k += 1


def layer_metrics(wl, loop: Loop, ev: dict, kernel: dict) -> dict:
    from perfbench import tracing
    from perfbench.workloads import LAYER_METRICS, SPARK_LAYERS

    k, res = loop.last
    mine, spark_rows = wl.layers(k, res, ev)
    metrics = dict.fromkeys(LAYER_METRICS, 0.0)
    metrics.update(mine)
    metrics.update(kernel)
    for layer in SPARK_LAYERS:
        row = spark_rows.get(layer, {})
        for f in tracing.SPARK_FIELDS:
            metrics[f"{layer}.{f}"] = row.get(f, 0.0)
    rec = loop.rec
    op_s = rec.duration("op", k)
    unattributed = rec.self_times(k).get("op", 0.0)
    metrics["trace.op_s"] = op_s
    metrics["trace.overhead_s"] = rec.overhead_s(k)
    metrics["trace.overhead_share"] = rec.overhead_s(k) / op_s
    metrics["trace.unattributed_s"] = unattributed
    metrics["trace.unattributed_share"] = unattributed / op_s
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    # single-threaded BLAS in this process (kernel micro-layer) and in every
    # Python worker, which inherits this environment
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, REPO)

    # the engine and the benchmark import before any work: a checkout
    # without the engine fails here, without printing a result
    import relation_extraction_transformer_spark  # noqa: F401

    from perfbench import procstat, tracing
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    for d in ("tmp", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")

    trace = bool(args.trace)
    # an untraced run measures each workload's MIN_OPS ops at least; a
    # traced run traces one.  No op runs faster than ~5 s here, and the
    # inputs are sized for that many ops.
    min_ops = 1 if trace else WORKLOADS[args.workload].MIN_OPS
    max_ops = min_ops + int(args.seconds // 5)
    try:
        with procstat.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work, trace)
            try:
                t_session = time.perf_counter()
                wl = WORKLOADS[args.workload](
                    spark, work, args.seed, max_ops, _nproc())
                wl.setup()
                t_inputs = time.perf_counter()
                res = wl.op(0)  # warm op, part of set-up
                setup_s = time.perf_counter() - t0
                warm_errs = wl.check_op(0, res)
                print(f"set-up {setup_s:.1f} s: session {t_session - t0:.1f}, "
                      f"inputs and state {t_inputs - t_session:.1f}, warm op "
                      f"{t0 + setup_s - t_inputs:.1f}", file=sys.stderr)

                rec = tracing.SpanRecorder(spark.sparkContext) if trace else None
                if rec is not None:
                    wl.rec = rec
                loop = Loop(wl, rec, args.seconds, min_ops, max_ops)
                loop.run()
                print("op walls (s): " + " ".join(f"{w:.2f}" for w in loop.walls)
                      + "; op CPU (s): " + " ".join(f"{c:.2f}" for c in loop.cpus),
                      file=sys.stderr)
                t_gate = time.perf_counter()
                loop.errors += warm_errs + wl.gate(full=trace)
                print(f"gate {time.perf_counter() - t_gate:.1f} s", file=sys.stderr)
                if trace:
                    from perfbench import kernel_micro

                    wl.ladder(*loop.last)
                    kernel = kernel_micro.measure(
                        *kernel_micro.collect_batches(spark, args.seed))
                    app_id = spark.sparkContext.applicationId
            finally:
                stop_session(spark)
        if trace:
            ev = tracing.parse_event_log(os.path.join(work, "events", app_id))
            metrics = layer_metrics(wl, loop, ev, kernel)
            rec.dump(os.path.join(
                WORK_ROOT, f"spans-{args.workload}-{args.seed}.json"))
        else:
            # over the first min_ops ops only: each op costs less CPU than
            # the one before and a daily_fold version grows with the state,
            # so figures over every op would move with how many fit
            metrics = {
                "setup_s": setup_s,
                "cpu_s": _median(loop.cpus[:min_ops]),
                "bytes_written": _median(loop.written[:min_ops]),
                "peak_rss_mb": rss.peak / 2**20,
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in loop.errors:
        print("CHECK FAILED:", e, file=sys.stderr)
    # a failed end-of-run gate cannot be pinned on one op: all count
    failed = loop.attempted if loop.errors else loop.failed
    print(json.dumps({
        "correct": not loop.errors,
        "attempted": loop.attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(v), "unit": unit(name)}
            for name, v in metrics.items()
        },
    }))
    return 0


def unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("bytes", "bytes_written", "bytes_per_new_node")):
        return "bytes"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith(("share", "yield")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
