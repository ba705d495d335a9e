"""Outside-in spans for the traced benchmark run.

Nothing here edits the program. The driver-side wrappers replace the
attribute each caller resolves at call time (``signatures.compute_signatures``,
``verify.barrier`` *and* ``components.barrier``, which components imports by
name, ``TableIO.write`` ...). Each wrapper records a span and sets the Spark
job description to its layer, so the event log attributes eager jobs
(barriers, counts) to the wrapped call and lazy ones to the ``TableIO.write``
that runs them.

Code that runs inside the Python workers (the MinHash kernel and the UDF
bodies) is timed by ``install_worker_hooks``, which ``perfbench.trace_daemon``
runs in the pyspark daemon before it forks workers. Workers append one JSON
line per call to a file under ``$PERFBENCH_TRACE_DIR``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import time

TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"


# -- driver side -----------------------------------------------------------------


class Spans:
    """In-memory span list: (layer, name, detail, start, end, parent)."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.keep: dict[str, list] = {}  # DataFrames kept for post-run counts
        self.cc_stats: dict = {}  # filled by connected_components(stats=...)
        self._undo: list[tuple[object, str, object]] = []

    def reset(self) -> None:
        self.spans.clear()
        self.keep.clear()
        self.cc_stats.clear()

    def wrap(self, owner, attr: str, layer: str, detail_arg: int | None = None, on_result=None):
        orig = getattr(owner, attr)
        spans = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sc = spans.spark.sparkContext
            prev_desc = sc.getLocalProperty("spark.job.description")
            detail = None
            if detail_arg is not None and len(args) > detail_arg:
                detail = args[detail_arg]
            rec = {
                "layer": layer,
                "name": attr,
                "detail": detail,
                "parent": spans.stack[-1] if spans.stack else None,
            }
            spans.stack.append(len(spans.spans))
            spans.spans.append(rec)
            sc.setJobDescription(f"{layer}.{attr}")
            rec["start"] = time.time()
            try:
                out = orig(*args, **kwargs)
            finally:
                rec["end"] = time.time()
                spans.stack.pop()
                sc.setJobDescription(prev_desc)
            if on_result is not None:
                on_result(spans, rec, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))
        return wrapper

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def total(self, layer: str, name: str) -> float:
        """Summed duration of every span of ``layer.name``."""
        return sum(
            s["end"] - s["start"] for s in self.spans if s["layer"] == layer and s["name"] == name
        )


def _keep_survivors(spans, rec, args, kwargs, out):
    # the barrier verify_pairs takes over its prefilter survivors: the one
    # whose parent span is verify.verify_pairs
    parent = rec["parent"]
    if parent is not None and spans.spans[parent]["name"] == "verify_pairs":
        spans.keep.setdefault("survivors", []).append(out)


def _keep_pairs(spans, rec, args, kwargs, out):
    pairs = out[0] if isinstance(out, tuple) else out
    spans.keep.setdefault("candidates", []).append(pairs)


def install_driver_hooks(spark, with_queries: bool = False) -> Spans:
    """Wrap the public functions of each pipeline-side module."""
    from minhash_spark.functions import udfs
    from minhash_spark.operators import components, lsh, signatures, verify
    from minhash_spark.plans import pipeline
    from minhash_spark.sources import io as sio

    spans = Spans(spark)
    for attr in (
        "with_identity",
        "distinct_contents",
        "rep_id_set",
        "representatives_by_id",
        "compute_signatures",
    ):
        spans.wrap(signatures, attr, "signatures")
    spans.wrap(lsh, "explode_buckets", "lsh")
    spans.wrap(lsh, "bucket_stats", "lsh")
    spans.wrap(lsh, "candidate_pairs", "lsh", on_result=_keep_pairs)
    spans.wrap(lsh, "incremental_candidate_pairs", "lsh", on_result=_keep_pairs)
    spans.wrap(verify, "verify_pairs", "verify")
    spans.wrap(verify, "barrier", "verify", on_result=_keep_survivors)
    spans.wrap(components, "barrier", "components")
    cc = components.connected_components

    @functools.wraps(cc)
    def cc_with_stats(*args, **kwargs):
        kwargs.setdefault("stats", spans.cc_stats)
        return cc(*args, **kwargs)

    components.connected_components = cc_with_stats
    spans._undo.append((components, "connected_components", cc))
    spans.wrap(components, "connected_components", "components")
    spans.wrap(sio.TableIO, "write", "io", detail_arg=2)
    spans.wrap(sio.TableIO, "read", "io", detail_arg=2)
    spans.wrap(sio.TableIO, "is_fresh", "io", detail_arg=1)
    spans.wrap(pipeline.DedupPipeline, "run", "pipeline")
    # UDF factories run on the driver; the UDF bodies they return run in the
    # workers, so the returned function is re-wrapped with a worker-side timer
    _wrap_udf_factory(spans, signatures, "minhash_struct_udf", "udfs.minhash_struct")
    _wrap_udf_factory(spans, udfs, "minhash_struct_udf", "udfs.minhash_struct")
    _wrap_mapper_factory(spans, udfs, "window_doc_freq_frames", "udfs.doc_freq")
    if with_queries:
        from minhash_spark.plans import queries

        for attr in dir(queries):
            if attr.startswith("q_") and callable(getattr(queries, attr)):
                spans.wrap(queries, attr, "queries")
    return spans


def _wrap_udf_factory(spans: Spans, owner, attr: str, label: str) -> None:
    from pyspark.sql.functions import pandas_udf

    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def factory(*args, **kwargs):
        u = orig(*args, **kwargs)
        body = u.func

        @functools.wraps(body)
        def timed(texts):
            t0 = time.perf_counter()
            out = body(texts)
            record(label, time.perf_counter() - t0, docs=len(texts))
            return out

        return pandas_udf(timed, u.returnType)

    setattr(owner, attr, factory)
    spans._undo.append((owner, attr, orig))


def _wrap_mapper_factory(spans: Spans, owner, attr: str, label: str) -> None:
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def factory(*args, **kwargs):
        fn = orig(*args, **kwargs)

        def timed(batches):
            seen: list[int] = []

            def counted():
                for pdf in batches:
                    seen.append(len(pdf))
                    yield pdf

            t0 = time.perf_counter()
            busy = 0.0
            for out in fn(counted()):
                busy += time.perf_counter() - t0
                yield out
                t0 = time.perf_counter()
            busy += time.perf_counter() - t0
            record(label, busy, docs=sum(seen))

        return timed

    setattr(owner, attr, factory)
    spans._undo.append((owner, attr, orig))


# -- worker side -------------------------------------------------------------------


def record(name: str, seconds: float, **counts) -> None:
    """Append one call record to this process's trace file (no-op when the
    trace directory is not configured)."""
    d = os.environ.get(TRACE_DIR_ENV)
    if not d:
        return
    line = json.dumps({"n": name, "s": seconds, **counts})
    with open(os.path.join(d, f"w{os.getpid()}.jsonl"), "a") as f:
        f.write(line + "\n")


_WS = re.compile(r"\s+")


def window_counts(texts, k: int) -> tuple[int, int]:
    """(windows, distinct windows) of a kernel call's batch: sliding windows
    of k UTF-16 units over whitespace-normalized text, as the kernel defines
    them, counted with a vectorized polynomial hash."""
    import numpy as np

    hashes = []
    windows = 0
    for t in texts:
        b = _WS.sub(" ", t.strip()).encode("utf-16-le")
        u = np.frombuffer(b, dtype="<u2").astype(np.uint64)
        if len(u) == 0:
            continue
        if len(u) <= k:
            windows += 1
            hashes.append(np.array([hash(b)], dtype=np.int64).view(np.uint64))
            continue
        n = len(u) - k + 1
        h = np.zeros(n, dtype=np.uint64)
        for j in range(k):
            h = h * np.uint64(1000003) + u[j : j + n]
        windows += n
        hashes.append(h)
    distinct = len(np.unique(np.concatenate(hashes))) if hashes else 0
    return windows, distinct


def install_worker_hooks() -> None:
    """Wrap the kernel and the verify scorer inside a Python worker."""
    from minhash_spark import kernel
    from minhash_spark.functions import udfs

    mins = kernel.minhash_mins_char_shingle

    @functools.wraps(mins)
    def timed_mins(texts, *args, **kwargs):
        t0 = time.perf_counter()
        out = mins(texts, *args, **kwargs)
        t1 = time.perf_counter()
        k = kwargs.get("k", args[0] if args else 9)
        windows, distinct = window_counts(texts, k)
        trace_s = time.perf_counter() - t1
        record("kernel", t1 - t0, docs=len(texts), windows=windows, distinct=distinct, trace_s=trace_s)
        return out

    kernel.minhash_mins_char_shingle = timed_mins

    score = udfs.score_similarity_frame

    @functools.wraps(score)
    def timed_score(a, b, *args, **kwargs):
        t0 = time.perf_counter()
        out = score(a, b, *args, **kwargs)
        record("udfs.score_similarity", time.perf_counter() - t0, pairs=len(a))
        return out

    udfs.score_similarity_frame = timed_score


def read_worker_records(trace_dir: str) -> dict[str, dict]:
    """Sum the worker records per name: seconds, calls and every count."""
    out: dict[str, dict] = {}
    for path in glob.glob(os.path.join(trace_dir, "w*.jsonl")):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                agg = out.setdefault(r.pop("n"), {"calls": 0})
                agg["calls"] += 1
                for k, v in r.items():
                    agg[k] = agg.get(k, 0) + v
    return out


def clear_worker_records(trace_dir: str) -> None:
    for path in glob.glob(os.path.join(trace_dir, "w*.jsonl")):
        os.remove(path)


# -- Spark event log -------------------------------------------------------------------


def _event_lines(evdir: str, app_id: str):
    """Lines of the application's event log, plain or rolled into parts."""
    paths = [
        p
        for p in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
        if app_id in p and os.path.isfile(p)
    ]
    for path in sorted(paths, key=lambda p: [int(x) for x in re.findall(r"events_(\d+)_", p)] or [0]):
        with open(path) as f:
            yield from f


def read_event_log(evdir: str, app_id: str) -> tuple[list[dict], list[float]]:
    """(tasks, job submission times in epoch seconds) from an event log."""
    tasks: list[dict] = []
    jobs: list[float] = []
    for line in _event_lines(evdir, app_id):
        if '"SparkListenerTaskEnd"' in line:
            ev = json.loads(line)
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "launch": info["Launch Time"] / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "read_b": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "write_b": wr.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Disk Bytes Spilled", 0),
                }
            )
        elif '"SparkListenerJobStart"' in line:
            jobs.append(json.loads(line)["Submission Time"] / 1000.0)
    return tasks, jobs


def stage_metrics(tasks: list[dict], lo: float, hi: float, cores: int) -> dict[str, float]:
    """Task metrics of the tasks launched in [lo, hi): busy seconds, core
    utilization over the interval, the worst max/median task-time ratio of
    any Spark stage with at least ``cores`` tasks, and shuffle/spill MiB."""
    mine = [t for t in tasks if lo <= t["launch"] < hi]
    by_stage: dict[int, list[float]] = {}
    for t in mine:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    skew = 1.0
    for runs in by_stage.values():
        med = statistics.median(runs)
        if len(runs) >= cores and med > 0:
            skew = max(skew, max(runs) / med)
    task_s = sum(t["run_s"] for t in mine)
    mib = 1024.0 * 1024.0
    return {
        "task_s": task_s,
        "core_util": task_s / ((hi - lo) * cores) if hi > lo else 0.0,
        "task_skew": skew,
        "shuffle_write_mb": sum(t["write_b"] for t in mine) / mib,
        "shuffle_read_mb": sum(t["read_b"] for t in mine) / mib,
        "spill_mb": sum(t["spill_b"] for t in mine) / mib,
    }
