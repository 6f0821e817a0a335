"""Benchmark entry point.

    python3 perfbench/run.py --workload <vector|pipeline>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One fresh process per run, ``local[4]``,
one client thread.  Inputs come from ``--seed``; outputs are checked
against exact oracles after the timed window.  The last line of standard
output is the JSON result; ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (see perfbench/README.md).
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("vector", "pipeline")
CORES = 4
DRIVER_MEMORY = "2g"


class Op:
    """One timed operation and what the checks found about it."""

    def __init__(self, kind: str, name: str):
        self.kind, self.name = kind, name
        self.t0 = self.t1 = 0.0
        self.roots: list = []
        self.error: str | None = None
        self.problem: str | None = None
        self.out = None
        self.units = 1

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def failed(self) -> bool:
        return bool(self.error or self.problem)


class Bench:
    """State one workload run shares with the benchmark: session, seeded
    generator, the timed window and the operations timed in it."""

    def __init__(self, spark, tracer, workload, seed, seconds, tmp):
        import numpy as np

        self.spark, self.tracer = spark, tracer
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tmp, self.root = tmp, ROOT
        self.rng = np.random.default_rng(seed)
        self.ops: list[Op] = []
        self.extra: dict[str, float] = {}
        self.labels: set[str] = set()
        self.n_phases = 0
        self.state_failures: list[str] = []
        self.window = (0.0, 0.0)
        self._counts: dict[tuple, int] = defaultdict(int)

    def start_window(self) -> None:
        self.window = (time.time(), 0.0)

    def end_window(self) -> None:
        self.window = (self.window[0], time.time())

    def window_over(self) -> bool:
        return time.time() - self.window[0] >= self.seconds

    @contextmanager
    def op(self, kind: str, name: str | None = None):
        """Time one operation.  An exception it raises is recorded as its
        failure and does not stop the run."""
        key = (kind, name or kind)
        i = self._counts[key]
        self._counts[key] += 1
        rec = Op(kind, name or kind)
        labelled = name is None and self.tracer is not None
        rec.t0 = time.time()
        try:
            if labelled:
                with self.phase(rec, f"{self.workload}/{kind}#{i}"):
                    yield rec
            else:
                yield rec
        except Exception as e:
            rec.error = f"{type(e).__name__}: {e}"[:300]
        finally:
            rec.t1 = time.time()
            self.ops.append(rec)

    @contextmanager
    def phase(self, rec: Op, label: str):
        """Label the Spark jobs of one phase of ``rec`` (traced run only)."""
        if self.tracer is None:
            yield
            return
        self.labels.add(label)
        self.n_phases += 1
        with self.tracer.op(label) as root:
            rec.roots.append(root)
            yield

    def note(self, what: str) -> None:
        """Progress on standard error: seconds since process start."""
        print(f"perfbench {time.time() - PROCESS_START:7.2f}s {what}", file=sys.stderr, flush=True)

    def fail_state(self, problem: str) -> None:
        self.state_failures.append(problem)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _start_spark(workload: str, tmp: str, trace: bool):
    from minivectordb_spark.session import get_spark

    conf = {
        # executors' Python workers import the package from the checkout,
        # whatever their working directory
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name=f"perfbench-{workload}", cores=CORES,
                     shuffle_partitions=CORES, extra_conf=conf)


def _warm_up(spark) -> None:
    """The first job pays for JVM class loading and codegen set-up; run it
    before anything is timed."""
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
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
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _median_ms(ops) -> float:
    return 1000.0 * statistics.median(r.wall for r in ops) if ops else 0.0


def end_to_end(workload: str, ops, window: tuple[float, float]) -> dict[str, float]:
    import pipeline

    ok = [r for r in ops if not r.error]
    if workload == "pipeline":
        walls: dict[str, list[float]] = defaultdict(list)
        for r in ok:
            walls[r.name].append(r.wall)
        per_q = {q: statistics.median(w) for q, w in walls.items()}
        iterative = set(pipeline.ITERATIVE)
        return {
            "primary_ms": 1000.0 * sum(w for q, w in per_q.items() if q not in iterative),
            "secondary_ms": 1000.0 * sum(w for q, w in per_q.items() if q in iterative),
            # the whole window, so the time between queries counts too
            "throughput_per_s": len(ok) / (window[1] - window[0]),
        }
    bulk = [r for r in ok if r.kind == "batch"]
    writes = [r for r in ok if r.kind == "write"]
    # each write kind weighs the same, however many of each the window held
    per_kind = [_median_ms([r for r in writes if r.name == k]) for k in {r.name for r in writes}]
    return {
        "primary_ms": _median_ms([r for r in ok if r.kind == "search"]),
        "secondary_ms": statistics.mean(per_kind) if per_kind else 0.0,
        "throughput_per_s": (sum(r.units for r in bulk) / sum(r.wall for r in bulk)) if bulk else 0.0,
    }


def run(args, tmp: str) -> dict:
    import layers
    import pipeline
    import spans as tracing
    import vector

    t0 = time.time()
    spark = _start_spark(args.workload, tmp, args.trace)
    session_s = time.time() - t0
    try:
        tracer = None
        if args.trace:
            import __spark_entry__  # noqa: F401  (its imports get re-bound too)

            tracer = tracing.Tracer(spark)
            tracing.instrument(tracer)
        bench = Bench(spark, tracer, args.workload, args.seed, args.seconds, tmp)
        bench.note(f"session up in {session_s:.2f}s")
        _warm_up(spark)
        bench.note("warm-up done")
        {"vector": vector.run_vector, "pipeline": pipeline.run_pipeline}[args.workload](bench)
        setup_s = bench.window[0] - PROCESS_START
        bench.extra["driver.peak_rss_mb"] = (
            _vm_hwm_mb("self") + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid))
        if tracer is not None:
            per_span, per_label = tracer.calibrate()
            traced_s = sum(r.wall for r in bench.ops)
            bench.extra["trace.overhead_pct"] = 100.0 * (
                len(tracer.spans) * per_span + bench.n_phases * per_label) / max(traced_s, 1e-9)
    finally:
        _stop_spark(spark)

    ops = bench.ops
    if not ops:
        raise SystemExit("perfbench: no operation was timed")
    walls = defaultdict(list)
    for r in ops:
        walls[r.name].append(f"{r.wall:.3f}")
    for name, ws in sorted(walls.items()):
        bench.note(f"timed {name}: {' '.join(ws)}")
    failed = sum(1 for r in ops if r.failed) + len(bench.state_failures)
    for r in ops:
        if r.failed:
            print(f"FAILED {r.kind} {r.name}: {r.error or r.problem}", file=sys.stderr)
    for p in bench.state_failures:
        print(f"FAILED state: {p}", file=sys.stderr)
    attempted = len(ops) + len(bench.state_failures)
    if args.trace:
        import eventlog

        logs = os.listdir(os.path.join(tmp, "eventlog"))
        jobs = eventlog.parse(os.path.join(tmp, "eventlog", logs[0]))
        for line in layers.breakdown(ops, tracer.spans, jobs):
            bench.note(line)
        values = layers.compute(ops, tracer.spans, jobs, bench.labels,
                                {**bench.extra, "session.start_s": session_s}, bench.window)
        units = layers.names()
        metrics = {k: {"value": v, "unit": units[k][0]} for k, v in values.items()}
    else:
        values = end_to_end(args.workload, ops, bench.window)
        values["setup_s"] = setup_s
        units = {"setup_s": "s", "primary_ms": "ms", "secondary_ms": "ms", "throughput_per_s": "1/s"}
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program is built from the checkout this file sits in, never from
    # an installed copy
    for need in ("minivectordb_spark/__init__.py", "__spark_entry__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ.update({"TZ": "UTC", "TMPDIR": tmp, "SPARK_DRIVER_MEMORY": DRIVER_MEMORY})
    time.tzset()
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
