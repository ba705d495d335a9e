#!/usr/bin/env python3
"""Benchmark of the dedup engine: end-to-end metrics per workload, and a
separate traced run for per-layer metrics.

    python3 perfbench/run.py --workload planted_code --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the inputs from ``--seed``
(cached under ``.perfbench_work/``), starts Spark through
``minhash_spark.session.build_session`` at ``local[<nproc>]``, and runs one op
at a time in a closed loop for ``--seconds`` (always at least one op). An op
is a full ``DedupPipeline.run`` or one pass of the query suite; every op
checks its output. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries the
median, quartiles and sample count of every figure, with nproc, the Spark
version and a VM-health canary.

Workloads (why each was chosen is in BENCHMARK.json):
  planted_code     full pipeline over a planted near-duplicate code corpus
  query_suite      the session-cache and scan-heavy queries, cold

``--trace 1`` runs one op in a Spark application with the event log on and
the span wrappers of ``perfbench/trace.py`` installed, and reports the
per-layer metrics: ``trace.wall_s`` is the traced op's wall, to set against
the untraced ``wall_s`` median of the same seeds, and ``trace.overhead_s`` the
task seconds the workers spent on trace bookkeeping. A traced-minus-untraced
wall inside one process would measure the JVM warming up between
applications (several seconds) more than the tracing. ``--record``
(query_suite only) merges the observed query results into the expectations
of the seed's input variant.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.getcwd()
SETUP_REPEATS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true")
    return p.parse_args(argv)


def require_program() -> None:
    if not os.path.isfile(os.path.join(ROOT, "minhash_spark", "__init__.py")):
        sys.exit(f"perfbench: no minhash_spark package under {ROOT}; run from a checkout root")


# -- process resources ----------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> tuple[int, int]:
    """(all, python-only) summed RSS of ``pid`` and its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = python = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{p}/comm") as f:
                is_python = f.read().startswith("python")
        except OSError:
            continue
        total += rss
        python += rss if is_python else 0
    return total, python


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM and
    the Python workers), and of the Python processes alone, sampled from
    /proc every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = (0, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(self.interval):
            now = tree_rss_bytes(os.getpid())
            self.peak = (max(self.peak[0], now[0]), max(self.peak[1], now[1]))

    def start(self):
        self._thread.start()

    def reset(self):
        self.peak = tree_rss_bytes(os.getpid())

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def vm_canary() -> dict:
    """Fixed NumPy workload that gauges VM health: ``cold_s`` includes a
    64 MiB first-touch allocation, ``warm_s`` repeats the arithmetic on the
    faulted buffer. Context only, never a gated metric."""
    import numpy as np

    def fold(a):
        for _ in range(3):
            a = (a * np.uint64(0xFF51AFD7ED558CCD)) ^ (a >> np.uint64(33))
        return a

    t0 = time.perf_counter()
    a = fold(np.arange(8_000_000, dtype=np.uint64))
    cold = time.perf_counter() - t0
    t0 = time.perf_counter()
    a = fold(a)
    warm = time.perf_counter() - t0
    return {"cold_s": round(cold, 4), "warm_s": round(warm, 4)}


# -- Spark sessions -------------------------------------------------------------------


class Sessions:
    """Builds sessions through the program's ``build_session`` with only the
    benchmark's own conf (local dirs inside the checkout, optional event
    log), and stops the JVM at the end."""

    def __init__(self, work: str, cores: int):
        self.work = work
        self.cores = cores
        self.spark = None
        self.version = None

    def start(self, extra: dict | None = None):
        from minhash_spark.session import build_session

        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep JVM temp files (and no hsperfdata) out of the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        conf.update(extra or {})
        self.spark = build_session(
            app_name="perfbench", master=f"local[{self.cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.version = self.spark.version
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop Spark, then end the JVM and wait for every child process."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 20
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def warm_pool(spark, cores: int) -> None:
    """Start every Python worker and import the kernel in it, through a
    signature UDF over a few rows per task."""
    from minhash_spark.config import MinHashConfig
    from minhash_spark.functions.udfs import minhash_struct_udf
    from pyspark.sql import functions as F

    cfg = MinHashConfig(tokenizer="char_shingle", tokenizer_params={"k": 9})
    df = spark.range(0, cores * 8, numPartitions=cores).select(
        F.concat(F.lit("warm up the python workers "), F.col("id").cast("string")).alias("t")
    )
    df.select(minhash_struct_udf(cfg)(F.col("t")).alias("s")).write.format("noop").mode(
        "overwrite"
    ).save()


# -- statistics -------------------------------------------------------------------


def summary(values: list[float]) -> dict:
    vals = sorted(values)
    if len(vals) >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = q3 = vals[0]
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "n": len(vals)}


END_TO_END_UNITS = {
    "wall_s": "s",
    "files_per_s": "files/s",
    "setup_s": "s",
    "peak_py_rss_mb": "MiB",
    "dup_pair_recall": "ratio",
    "dup_pair_precision": "ratio",
}


# -- main --------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    require_program()
    sys.path.insert(0, ROOT)
    from perfbench import trace as tr
    from perfbench import workloads as W

    registry = {
        "planted_code": W.PipelineWorkload,
        "query_suite": W.QuerySuiteWorkload,
    }
    if args.workload not in registry:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; known: {sorted(registry)}")

    work = os.path.join(ROOT, ".perfbench_work")
    for sub in ("spark-local", "tmp", "trace"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    workload = registry[args.workload](work, args.seed)
    workload.prepare()
    canary = vm_canary()
    sessions = Sessions(work, cores)
    sampler = RssSampler()
    sampler.start()
    results: list[dict] = []
    detail: dict = {"workload": args.workload, "seed": args.seed, "nproc": cores}
    kernel_bad = W.check_kernel(workload.sample_texts())
    attempted, failed = 1, int(bool(kernel_bad))
    detail["kernel_check_failures"] = kernel_bad
    setups: list[float] = []
    warmup_s = 0.0
    per_layer = None
    try:
        ticks0 = cpu_ticks()
        if args.trace:
            per_layer, r = traced_run(tr, W, workload, sessions, sampler, cores, work)
            results.append(r)
        else:
            # the session is started several times for a median; the first
            # start also launches the JVM
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                sessions.stop()
                spark = sessions.start()
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            warm_pool(spark, cores)
            workload.warmup(spark)
            warmup_s = time.perf_counter() - t0
            detail["setup"] = {"session_s": setups, "warmup_s": warmup_s}

            fresh_app_per_op = args.workload == "query_suite"
            sampler.reset()
            ticks0 = cpu_ticks()
            t_start = time.perf_counter()
            while True:
                if fresh_app_per_op and results:
                    sessions.stop()
                    spark = sessions.start()
                    warm_pool(spark, cores)
                results.append(run_op(workload, spark))
                if time.perf_counter() - t_start >= args.seconds:
                    break
        detail["spark_version"] = sessions.version
        peak_rss = sampler.peak
        ticks1 = cpu_ticks()
        canary["steal_frac"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        if args.record:
            for r in results:
                if "observed" in r:
                    W.record_expectations(workload, r)
    finally:
        sessions.shutdown()
        sampler.stop()
    for r in results:
        attempted += r.get("attempted_ops", 1)
        failed += r.get("failed_ops", 0 if r["ok"] else 1)

    good = [r for r in results if "wall_s" in r]
    metrics_src = {
        k: [r[k] for r in good if k in r]
        for k in ("wall_s", "files_per_s", "dup_pair_recall", "dup_pair_precision")
    }
    if setups:
        metrics_src["setup_s"] = [statistics.median(setups) + warmup_s]
    metrics_src["peak_rss_mb"] = [peak_rss[0] / (1024.0 * 1024.0)]
    metrics_src["peak_py_rss_mb"] = [peak_rss[1] / (1024.0 * 1024.0)]
    detail["summary"] = {k: summary(v) for k, v in metrics_src.items() if v}
    detail["canary"] = canary
    if good and "walls" in good[-1]:
        detail["query_walls_s"] = good[-1]["walls"]
    detail["errors"] = [r.get("error") or r.get("errors") for r in results if not r["ok"]]
    if per_layer is not None:
        per_layer["failed_frac"] = failed / attempted
        per_layer["peak_rss_mb"] = metrics_src["peak_rss_mb"][0]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(per_layer.items())}
    else:
        metrics = {
            k: {"value": detail["summary"][k]["median"], "unit": u}
            for k, u in END_TO_END_UNITS.items()
            if k in detail["summary"]
        }
    correct = failed == 0 and bool(good) and len(metrics) > 0
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def run_op(workload, spark) -> dict:
    try:
        return workload.op(spark)
    except Exception as e:  # an op that raises is a failed op
        return {"ok": False, "error": f"{type(e).__name__}: {e}"[:500]}


def unit_of(name: str) -> str:
    if name.endswith(".s") or name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.startswith("kernel.ns_"):
        return "ns"
    if ".ms_per_" in name or name.startswith("kernel.ms_"):
        return "ms"
    if name.endswith(("_ratio", "_frac", "core_util", "task_skew", "amplification", "per_rep")):
        return "ratio"
    return "count"


# -- traced run ---------------------------------------------------------------------


def traced_run(tr, W, workload, sessions, sampler, cores, work) -> tuple[dict, dict]:
    """One traced op in its own Spark application, with the event log on and
    span wrappers installed on the driver and in the Python workers. Returns
    the per-layer metrics and the op's result."""
    trace_dir = os.path.join(work, "trace", "workers")
    evdir = os.path.join(os.environ["SPARK_LOCAL_DIRS"], "eventlog")
    shutil.rmtree(trace_dir, ignore_errors=True)
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(trace_dir)
    os.makedirs(evdir)
    sessions.stop()
    spark = sessions.start(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.python.daemon.module": "perfbench.trace_daemon",
            "spark.executorEnv." + tr.TRACE_DIR_ENV: trace_dir,
        }
    )
    query = isinstance(workload, W.QuerySuiteWorkload)
    spans = tr.install_driver_hooks(spark, with_queries=query)
    try:
        warm_pool(spark, cores)
        workload.warmup(spark)
        spans.reset()
        tr.clear_worker_records(trace_dir)
        sampler.reset()
        t_lo = time.time()
        r = run_op(workload, spark)
        window = (t_lo, time.time())
        if not r["ok"] and "wall_s" not in r:
            return {}, r
        counts = W.trace_counts(workload, spark, spans, r)
    finally:
        spans.uninstall()
        app_id = spark.sparkContext.applicationId
        sessions.stop()
    tasks, jobs = tr.read_event_log(evdir, app_id)
    workers = tr.read_worker_records(trace_dir)
    m = W.per_layer_metrics(workload, spans, workers, tasks, jobs, r, counts, cores, window)
    # the traced op's wall, to set against the untraced wall_s median of the
    # same seeds, and the worker-side bookkeeping that tracing adds to it
    m["trace.wall_s"] = r["wall_s"]
    m["trace.overhead_s"] = workers.get("kernel", {}).get("trace_s", 0.0)
    return m, r


if __name__ == "__main__":
    sys.exit(main())
