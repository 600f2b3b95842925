"""Benchmark runner for the marginaliasearch-spark engine.

    python3 enginebench/run.py --workload crawl_full --seed 7 --seconds 16 --trace 0

One invocation runs one workload in one Spark session (``local[nproc / 2]``,
one process): it builds the inputs from ``--seed``, computes the oracle's
answer, warms up, then runs closed-loop iterations (one client) for
about ``--seconds`` seconds, checking every iteration's output.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` ones of
``BENCHMARK.json``.  With ``--trace 1`` they are its ``per_layer`` ones,
from an untraced and a traced iteration after the warm-up; they include
the tracing overhead.  ``enginebench/METRICS.md`` describes every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

# The first iteration pays the cold start (2-3x a later one) and the
# second is still 10-30 % slower than the ones after it; from the third on,
# iterations agree within the host's noise.
WARMUP_ITERATIONS = 2
DRIVER_MEMORY = "3g"

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def declared_metrics(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def bench_cores() -> int:
    """Half the cores this process may run on, leaving the rest to other
    processes on a shared host, whose load otherwise lands on the
    benchmark's own threads."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def log(msg: str) -> None:
    print(f"enginebench: {msg}", file=sys.stderr, flush=True)


def build_session(cores: int, work: str):
    """A session sized for the host.  The package directory goes on the
    Python workers' path, so the UDFs import it wherever the benchmark is
    launched from."""
    from pyspark.sql import SparkSession

    become_subreaper()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("enginebench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a heap committed and touched up front: the JVM's resident size no
        # longer depends on when G1 grows the heap, so peak_rss_mb moves
        # with the memory the program itself adds (Python workers, off-heap)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # the traced run reads every job and stage of a run back from the
        # status store, so it must still hold them
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedTasks", "1000000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def become_subreaper() -> None:
    """Make this process the parent of every process orphaned below it.
    The JVM leaves the launcher it is started by as a zombie child, and
    the Python workers' daemon may outlive it by a moment; once the JVM
    has ended, both are this process's to wait for, rather than those of
    an init that may never reap them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants() -> list[int]:
    """The processes below this one, once the children that have ended
    are reaped.  A zombie is not ended: a multi-threaded process shows
    as one while its last threads still exit."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break
    from enginebench.tracing import tree_pids

    return tree_pids(os.getpid())[1:]


def end_processes(grace_s: float = 60.0) -> None:
    """Stop the active Spark session, if any, and end every process this
    one started: the JVM and the Python workers under it.  PySpark leaves
    the JVM to exit when this interpreter's exit closes the JVM's stdin,
    which is after the interpreter is gone.  Here its stdin is closed now,
    and this returns once no process below this one is left; if some
    still are after ``grace_s``, they get SIGTERM, and after 10 s more,
    SIGKILL."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # the JVM is ended below all the same
        log(f"stopping the session raised:\n{traceback.format_exc()}")
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on end of input
        SparkContext._gateway = SparkContext._jvm = None
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        left = _descendants()
        if sig is not None:
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = _descendants()
        if not left:
            return
        log(f"processes {left} still running {wait_s:.0f} s after {sig or 'end of input'}")
    raise SystemExit(f"enginebench: could not end processes {left}")


class Runner:
    def __init__(self, workload, work: str):
        self.wl = workload
        self.work = work
        self.n = 0
        self.attempted = 0
        self.failed = 0

    def iteration(self, tracer, layers: bool = False):
        """One job in a fresh output directory, which is deleted after its
        bytes are measured; caches and transient persists are released.
        With ``layers`` the workload's layer calls follow the job.
        Returns None if the job raised."""
        self.n += 1
        out_dir = os.path.join(self.work, f"iter-{self.n:04d}")
        os.makedirs(out_dir)
        try:
            res = self.wl.iterate(out_dir, tracer)
            if layers:
                self.wl.layers(res, out_dir)
        except Exception:  # a raising iteration counts as failed
            res = None
            log(f"iteration {self.n} raised:\n{traceback.format_exc()}")
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
            self.wl.release_iteration()
        if res is not None:
            log(f"iteration {self.n}: {res.job_s:.3f} s {res.problem}")
        return res

    def count(self, res) -> None:
        self.attempted += 1
        if res is None or not res.ok:
            self.failed += 1

    def warm_up(self, iterations: int) -> float:
        """The cold-start iterations, not measured; returns when measuring
        starts."""
        from enginebench.tracing import Tracer

        for _ in range(iterations):
            self.iteration(Tracer())
        return time.perf_counter()


def _import_program(batches):
    import marginaliasearch_spark.operators.dedup  # noqa: F401  the UDFs' modules
    import marginaliasearch_spark.plans.crawl  # noqa: F401

    yield from batches


def start_python_workers(spark, cores: int) -> None:
    """One task per core through a pandas UDF, so every Python worker is
    started and has imported the program before the first real job."""
    spark.range(cores).repartition(cores).mapInPandas(_import_program, "id long").count()


def prepare(wl) -> None:
    """The Spark-free part of set-up: generate the inputs and compute the
    expected answers."""
    wl.generate()
    wl.build_expected()


def measure(args, cores: int, work: str, spark=None, sizes=None, computed=None) -> dict:
    """Set up the workload, warm up, run the timed (or traced) iterations
    and return the result object.  Without ``spark``, a session is started
    (while the inputs are generated) and stopped at the end.  ``sizes``
    overrides ``workloads.SIZES``; a ``computed`` set receives the names
    of the per-layer metrics the workload computed.  ``setup_s`` runs from
    a started session to the start of measuring: the JVM's launch is no
    work of the program's."""
    from concurrent.futures import ThreadPoolExecutor

    from enginebench.tracing import RssSampler, SparkStatus, jvm_heap_peaks_mb
    from enginebench.workloads import SIZES, WORKLOADS

    os.makedirs(work, exist_ok=True)
    sampler = RssSampler().start()
    size = (sizes or SIZES)[args.workload]
    wl = WORKLOADS[args.workload](args.seed, work, cores, size)
    runner = Runner(wl, work)
    own_session = spark is None
    t0 = time.perf_counter()
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            prepared = pool.submit(prepare, wl)
            if own_session:
                spark = build_session(cores, work)
            t_setup = time.perf_counter()
            prepared.result()
        wl.spark = spark

        # the Python workers start, and import the program, while the JVM
        # runs its first jobs
        with ThreadPoolExecutor(max_workers=1) as pool:
            workers = pool.submit(start_python_workers, spark, cores)
            wl.load()
            workers.result()
        log(f"session {t_setup - t0:.2f} s, load {time.perf_counter() - t_setup:.2f} s")

        # the traced run's own warm-up iteration, with the layer calls,
        # stands in for the last one here
        measure_from = runner.warm_up(WARMUP_ITERATIONS - args.trace)
        setup_s = measure_from - t_setup

        if args.trace:
            layer = traced(runner, SparkStatus(spark))
            layer.update(jvm_heap_peaks_mb(spark))
        else:
            metrics = timed(runner, measure_from, args.seconds, setup_s)
    finally:
        wl.drop_inputs()
        if own_session and spark is not None:
            spark.stop()
        peak = sampler.stop()
    if args.trace:
        metrics = report(layer, declared_metrics("per_layer"), computed, partial=True)
    else:
        metrics["peak_rss_mb"] = peak
        metrics = report(metrics, declared_metrics("end_to_end"))
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }


def report(values: dict, declared: dict, computed=None, partial: bool = False) -> dict:
    """The declared metrics with their units.  With ``partial`` (the
    per-layer metrics) a metric the workload does not compute, of a layer
    it does not call, reads 0.  A missing or undeclared name is an error
    in the benchmark."""
    undeclared = set(values) - set(declared)
    missing = set() if partial else set(declared) - set(values)
    if undeclared or missing:
        raise SystemExit(
            f"enginebench: metrics not in BENCHMARK.json: {sorted(undeclared)}; "
            f"declared but not measured: {sorted(missing)}"
        )
    if computed is not None:
        computed.update(values)
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in declared.items()}


def timed(runner: Runner, t0: float, seconds: float, setup_s: float) -> dict:
    """Closed loop from ``t0``: one more iteration while it is expected to
    end within ``seconds``; at least one.  Each metric is the median over
    the iterations that did not raise."""
    from enginebench.tracing import Tracer, median

    results = []
    while True:
        elapsed = time.perf_counter() - t0
        typical = median(r.job_s for r in results) if results else 0.0
        if runner.attempted and elapsed + typical > seconds:
            break
        res = runner.iteration(Tracer())
        runner.count(res)
        if res is not None:
            results.append(res)
    if not results:
        raise SystemExit("enginebench: every timed iteration raised")
    return {
        "job_s": median(r.job_s for r in results),
        "urls_per_s": median(r.items / r.job_s for r in results),
        "bytes_per_url": median(r.out_bytes / max(r.items, 1) for r in results),
        "setup_s": setup_s,
    }


def traced(runner: Runner, status) -> dict:
    """The per-layer metrics.  After the cold iteration: the Spark-free
    layers, timed on the idle session; one untimed iteration with the
    layer calls, which completes the warm-up and warms those calls too;
    then an untraced and a traced iteration of the same job.  The tracing
    overhead is the difference of their times."""
    from enginebench.tracing import Tracer

    wl = runner.wl
    wl.offline = wl.offline_layers()
    runner.iteration(Tracer(), layers=True)
    plain = runner.iteration(Tracer())
    runner.count(plain)
    status.skip_finished()  # jobs so far belong to no span
    res = runner.iteration(Tracer(status), layers=True)
    runner.count(res)
    if res is None:
        raise SystemExit("enginebench: the traced iteration raised")
    layer = {**wl.offline, **res.layer}
    if plain is not None:
        layer["trace.overhead_s"] = res.job_s - plain.job_s
    return layer


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "marginaliasearch_spark", "__init__.py")):
        print(
            f"enginebench: no marginaliasearch_spark package next to {BENCH_DIR}; "
            "run it from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from enginebench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"enginebench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = bench_cores()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    # a terminated run still ends the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = measure(args, cores, work)
    finally:
        try:
            end_processes()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
