"""The benchmark workloads. Each one prepares its seeded inputs, builds any
program-side prerequisites, and runs one *op* at a time: a full pipeline run
or one pass of the query suite. Every op checks its own output."""

from __future__ import annotations

import base64
import datetime
import decimal
import hashlib
import json
import os
import shutil
import time

from perfbench import gen

# Engine configuration of the headline pipeline: 9-char shingles, 128 seeds,
# 1-bit signatures, exact-Jaccard verify at 0.8, boilerplate-shingle filter on.
PIPELINE_CFG = dict(
    seed=0,
    size=128,
    bit=1,
    tokenizer="char_shingle",
    tokenizer_params={"k": 9},
    verify_threshold=0.8,
    filter_common_shingles=True,
)

# The reference's six golden signatures: (tokens, seed, size, bit, base64).
GOLDEN = [
    (["test", "1"], 0, 128, 1, "Uji99jenq7da3aNKTYc8yQ=="),
    (["test", "1"], 1000, 128, 1, "fUkN7K0iiMHp1MxiGXnIaw=="),
    (["test", "1"], 1000, 32, 2, "W51pEPuK8tw="),
    (["test", "2"], 0, 128, 1, "AGB9/Yen+yf/lBvJKtMdQA=="),
    (["test", "2"], 1000, 128, 1, "8ShNb6UVCgPh16yxOd2Lew=="),
    (["test", "2"], 1000, 32, 2, "i11gJHsY/zw="),
]


def check_kernel(sample_texts: list[str], window_chars: int = 480) -> list[str]:
    """Golden vectors, plus char-shingle kernel == pure-Python oracle on a
    ``window_chars`` window of each sampled text. Returns the failed checks."""
    from minhash_spark import kernel
    from minhash_spark.tokenize import char_shingles

    bad = []
    for tokens, seed, size, bit, want in GOLDEN:
        mins = kernel.minhash_mins([tokens], seed=seed, size=size)
        got = kernel.to_base64(kernel.pack_bbit(mins, bit=bit)[0].tobytes())
        if got != want:
            bad.append(f"golden {tokens} seed={seed} size={size} bit={bit}")
    for text in sample_texts:
        text = text[:window_chars]
        mins = kernel.minhash_mins_char_shingle([text], k=9, seed=0, size=128)
        fast = kernel.pack_bbit(mins, bit=1)[0].tobytes()
        slow = kernel.minhash_signature_oracle(sorted(set(char_shingles(text, 9))), 0, 128, 1)
        if fast != slow:
            bad.append(f"char-shingle kernel != oracle on {text[:30]!r}")
    return bad


def co_clustered_pairs(clusters_all_path: str) -> set[tuple[str, str]]:
    """Every (a, b) file-id pair, a < b, that shares a cluster_id."""
    import pyarrow.parquet as pq

    t = pq.read_table(clusters_all_path, columns=["file_id", "cluster_id"]).to_pandas()
    pairs: set[tuple[str, str]] = set()
    for members in t.groupby("cluster_id")["file_id"]:
        ids = sorted(members[1])
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def pair_scores(found: set, truth: set) -> tuple[float, float]:
    hit = len(found & truth)
    recall = hit / len(truth) if truth else 1.0
    precision = hit / len(found) if found else 1.0
    return recall, precision


class PipelineWorkload:
    """Full ``DedupPipeline.run`` over the engine's planted source-code
    corpus (``fixtures.corpus_b``)."""

    name = "planted_code"
    # corpus_b's own defaults: ~2.5k files, ~13 M chars
    n_clusters = 200
    n_singletons = 2000
    n_parts = 16
    min_recall = 0.99

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.ckpt = os.path.join(work, "ckpt")

    def config(self):
        from minhash_spark.config import MinHashConfig

        return MinHashConfig(**PIPELINE_CFG)

    def prepare(self) -> None:
        """Generate (or reuse) the seed's corpus and its truth clusters."""
        tag = f"{self.name}-{self.n_clusters}-{self.n_singletons}-{self.seed}"
        base = os.path.join(self.work, "inputs", tag)

        def build(path):
            import pandas as pd
            from minhash_spark.sources.fixtures import corpus_b

            rows, truth_pairs, _ = corpus_b(self.n_clusters, self.n_singletons, self.seed)
            tmp = path + ".tmp"
            os.makedirs(tmp, exist_ok=True)
            with open(os.path.join(tmp, "truth.json"), "w") as f:
                json.dump({"n_files": len(rows), "pairs": truth_pairs}, f)
            gen.write_parts(pd.DataFrame(rows), os.path.join(tmp, "files"), self.n_parts)
            os.rename(tmp, path)

        self.input_dir = gen.cached(base, build)
        self.files_path = os.path.join(self.input_dir, "files")
        with open(os.path.join(self.input_dir, "truth.json")) as f:
            truth = json.load(f)
        self.n_files = truth["n_files"]
        self.truth = {tuple(p) for p in truth["pairs"]}

    def _contents(self) -> list[str]:
        import pyarrow.parquet as pq

        return pq.read_table(self.files_path, columns=["content"]).column(0).to_pylist()

    def sample_texts(self) -> list[str]:
        """Bodies of four files from different clusters, past the license
        header every file shares."""
        from minhash_spark.sources.fixtures import LICENSE_HEADER

        texts = self._contents()
        return [texts[i * len(texts) // 4][len(LICENSE_HEADER) + 1 :] for i in range(4)]

    def input_bytes(self) -> int:
        return sum(len(c.encode()) for c in self._contents())

    def warmup(self, spark) -> None:
        """One untimed run over one of the input parts: it loads the Python
        workers' modules and compiles the JVM's query code before timing."""
        from minhash_spark.plans.pipeline import DedupPipeline
        from minhash_spark.sources.io import TableIO

        ckpt = os.path.join(self.work, "ckpt-warmup")
        shutil.rmtree(ckpt, ignore_errors=True)
        parts = sorted(os.listdir(self.files_path))[:1]
        files = spark.read.parquet(*[os.path.join(self.files_path, p) for p in parts])
        DedupPipeline(spark, TableIO(ckpt), self.config()).run(files)
        shutil.rmtree(ckpt, ignore_errors=True)

    def op(self, spark) -> dict:
        """One timed pipeline run, then its output check: every input file
        appears once in clusters_all, and dup-pair recall meets the floor."""
        import pyarrow.parquet as pq
        from minhash_spark.plans.pipeline import DedupPipeline
        from minhash_spark.sources.io import TableIO

        shutil.rmtree(self.ckpt, ignore_errors=True)
        files = spark.read.parquet(self.files_path)
        t0 = time.perf_counter()
        DedupPipeline(spark, TableIO(self.ckpt), self.config()).run(files)
        wall = time.perf_counter() - t0
        out = os.path.join(self.ckpt, "clusters_all")
        ids = pq.read_table(out, columns=["file_id"]).column(0).to_pylist()
        recall, precision = pair_scores(co_clustered_pairs(out), self.truth)
        return {
            "ok": recall >= self.min_recall and len(ids) == len(set(ids)) == self.n_files,
            "wall_s": wall,
            "files_per_s": self.n_files / wall,
            "dup_pair_recall": recall,
            "dup_pair_precision": precision,
            "n_files": self.n_files,
            "ckpt": self.ckpt,
        }


# -- query suite ---------------------------------------------------------------

# The queries that read a session cache, plus the two scan-heavy ones, in
# suite order: (metric name, plans.queries function).
QUERIES = [
    ("near_dup_pairs_docs", "q_near_dup_pairs"),
    ("near_dup_clusters_docs", "q_near_dup_clusters"),
    ("cluster_cohesion_docs", "q_cluster_cohesion"),
    ("char_ngram_dup_pairs_docs", "q_char_ngram_dup_pairs"),
    ("containment_dup_pairs_docs", "q_containment_dup_pairs"),
    ("minhash_signatures_docs", "q_minhash_signatures"),
    ("embedding_near_dup_pairs", "q_embedding_near_dup_pairs"),
    ("cluster_representatives_docs", "q_cluster_representatives"),
    ("source_overlap_docs", "q_source_overlap"),
    ("leakage_safe_split_docs", "q_leakage_safe_split"),
    ("source_dedup_report_docs", "q_source_dedup_report"),
    ("embedding_ann_ivf", "q_embedding_ann_ivf"),
    ("fingerprint_matches_docs", "q_fingerprint_matches"),
    ("threshold_sweep_docs", "q_near_dup_threshold_sweep"),
    ("cluster_assign_docs", "q_cluster_assign"),
    ("method_agreement_docs", "q_dedup_method_agreement"),
    ("minhash_bitstrings_docs", "q_minhash_bitstrings"),
    ("ann_operating_curve", "q_ann_operating_curve"),
    ("repo_signature_dedup_docs", "q_repo_signature_dedup"),
    ("dedup_locality_docs", "q_dedup_locality"),
    ("cross_source_dup_matrix_docs", "q_cross_source_dup_matrix"),
    ("dup_graph_degree_docs", "q_dup_graph_degree"),
    ("dedup_token_savings_docs", "q_dedup_token_savings"),
]

EXPECT_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_expect.json")
# Query inputs come in this many seeded variants, so that expected results can
# be recorded for every variant a seed can select.
QUERY_VARIANTS = 4


def _norm(v):
    """A value in a form that hashes the same across runs: floats to 6
    significant digits, containers recursively."""
    if isinstance(v, float):
        return float(f"{v:.6g}")
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _norm(x) for k, x in sorted(v.items())}
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    if isinstance(v, (datetime.date, datetime.datetime, decimal.Decimal)):
        return str(v)
    return v


def _pairs_of(rows) -> set[tuple[int, int]]:
    """Co-clustered (a, b) doc-id pairs of a (doc_id, cluster_id) result."""
    by_cluster: dict[int, list[int]] = {}
    for doc_id, cluster_id in rows:
        by_cluster.setdefault(cluster_id, []).append(doc_id)
    return {(a, b) for m in by_cluster.values() for a in m for b in m if a < b}


def result_hash(rows) -> str:
    """Order-independent hash of a collected result."""
    lines = sorted(json.dumps(_norm(tuple(r)), sort_keys=True) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


class QuerySuiteWorkload:
    """One pass of the cache-reading and scan-heavy queries, each collected
    to the driver, in a fresh Spark application."""

    name = "query_suite"
    # the row counts of the engine's sf0.01 tables
    sizes = {"n_docs": 500, "n_vecs": 500, "n_events": 10000}
    n_parts = 4

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.variant = seed % QUERY_VARIANTS

    def prepare(self) -> None:
        tag = "-".join([self.name] + [str(v) for v in self.sizes.values()])
        base = os.path.join(self.work, "inputs", f"{tag}-v{self.variant}")

        def build(path):
            tmp = path + ".tmp"
            os.makedirs(tmp, exist_ok=True)
            tables, families = gen.query_tables(self.variant, **self.sizes)
            for name, df in tables.items():
                gen.write_parts(df, os.path.join(tmp, f"{name}.parquet"), self.n_parts)
            with open(os.path.join(tmp, "truth.json"), "w") as f:
                json.dump(families, f)
            os.rename(tmp, path)

        self.sf_dir = gen.cached(base, build)
        with open(os.path.join(self.sf_dir, "truth.json")) as f:
            self.truth = {
                (a, b) for fam in json.load(f) for a in fam for b in fam if a < b
            }
        expect = {}
        if os.path.exists(EXPECT_PATH):
            with open(EXPECT_PATH) as f:
                expect = json.load(f)
        self.expect = expect.get(str(self.variant), {})

    def sample_texts(self) -> list[str]:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"), columns=["text"])
        texts = t.column(0).to_pylist()
        return [texts[i * len(texts) // 4] for i in range(4)]

    def warmup(self, spark) -> None:
        """Nothing beyond the worker-pool warm-up: every session cache the
        pass reads must build cold inside it."""

    def op(self, spark) -> dict:
        from minhash_spark.plans import queries as Q

        walls: dict[str, float] = {}
        observed: dict[str, list] = {}
        bad: list[str] = []
        found = None
        for name, fn in QUERIES:
            t0 = time.perf_counter()
            try:
                rows = getattr(Q, fn)(spark, self.sf_dir).collect()
            except Exception as e:  # one failed query must not end the pass
                walls[name] = time.perf_counter() - t0
                bad.append(f"{name}: {type(e).__name__}: {e}"[:300])
                continue
            walls[name] = time.perf_counter() - t0
            observed[name] = [len(rows), result_hash(rows)]
            if name == "near_dup_clusters_docs":
                found = _pairs_of(rows)
            want = self.expect.get(name)
            if want is not None and (
                want[0] != len(rows) or (want[1] is not None and want[1] != observed[name][1])
            ):
                bad.append(f"{name}: got {observed[name]}, expected {want}")
        if not self.expect:
            bad.append(f"no recorded expectations for query variant {self.variant}")
        wall = sum(walls.values())
        recall, precision = pair_scores(found, self.truth) if found is not None else (0.0, 0.0)
        return {
            "ok": not bad,
            "failed_ops": len(bad),
            "attempted_ops": len(QUERIES),
            "wall_s": wall,
            # the benchmark prints every end-to-end metric on every workload;
            # here it is documents per second of the pass
            "files_per_s": self.sizes["n_docs"] / wall,
            "dup_pair_recall": recall,
            "dup_pair_precision": precision,
            "walls": walls,
            "observed": observed,
            "errors": bad,
        }


def record_expectations(workload, result: dict) -> None:
    """Merge one pass's observed (rows, hash) into the expectations of its
    input variant. A figure that differs from an earlier recording is kept
    only as far as it repeats: a differing hash is dropped, and so are the
    rows when they differ too."""
    expect = {}
    if os.path.exists(EXPECT_PATH):
        with open(EXPECT_PATH) as f:
            expect = json.load(f)
    old = expect.get(str(workload.variant), {})
    merged = {}
    for name, (rows, digest) in result["observed"].items():
        if name in old:
            o_rows, o_digest = old[name]
            rows = rows if rows == o_rows else None
            digest = digest if (digest == o_digest and rows is not None) else None
        merged[name] = [rows, digest]
    expect[str(workload.variant)] = merged
    with open(EXPECT_PATH, "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)


# -- per-layer metrics of the traced run ----------------------------------------

PIPELINE_STAGES = ["common_shingles", "signatures", "edges", "clusters", "clusters_all"]


def _dir_usage(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def trace_counts(workload, spark, spans, result: dict) -> dict:
    """Counts taken after the traced op, outside its spans: candidate pairs,
    prefilter survivors and the input scan's partition count."""
    spark.sparkContext.setJobDescription("perfbench.counts")
    if isinstance(workload, QuerySuiteWorkload):
        scan = spark.read.parquet(os.path.join(workload.sf_dir, "documents.parquet"))
        return {"scan_partitions": scan.rdd.getNumPartitions()}
    return {
        "scan_partitions": spark.read.parquet(workload.files_path).rdd.getNumPartitions(),
        "candidates": sum(df.count() for df in spans.keep.get("candidates", [])),
        "survivors": sum(df.count() for df in spans.keep.get("survivors", [])),
    }


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer_metrics(workload, spans, workers, tasks, jobs, result, counts, cores, window):
    """Every per-layer metric, by name; layers a workload does not reach
    report 0."""
    from perfbench import trace as tr

    m: dict[str, float] = {}
    k = workers.get("kernel", {})
    m["kernel.ms_per_doc"] = _ratio(1e3 * k.get("s", 0), k.get("docs", 0))
    m["kernel.ns_per_window"] = _ratio(1e9 * k.get("s", 0), k.get("windows", 0))
    m["kernel.windows"] = k.get("windows", 0)
    m["kernel.distinct_window_ratio"] = _ratio(k.get("distinct", 0), k.get("windows", 0))
    for label, unit in (("minhash_struct", "docs"), ("doc_freq", "docs"), ("score_similarity", "pairs")):
        w = workers.get(f"udfs.{label}", {})
        per = "doc" if unit == "docs" else "pair"
        m[f"udfs.{label}.ms_per_{per}"] = _ratio(1e3 * w.get("s", 0), w.get(unit, 0))

    query = isinstance(workload, QuerySuiteWorkload)
    # a stage owns the run's wall from the previous stage write's end to the
    # end of its own write: the eager steps before a write (counts, barriers,
    # union-find) belong to the stage that write publishes
    runs = [i for i, s in enumerate(spans.spans) if s["layer"] == "pipeline" and s["name"] == "run"]
    run_wall = 0.0
    intervals = {}
    if runs and not query:
        run = spans.spans[runs[-1]]
        run_wall = run["end"] - run["start"]
        lo = run["start"]
        for s in spans.spans:
            if s["layer"] == "io" and s["name"] == "write" and run["start"] <= s["start"] <= run["end"]:
                intervals[s["detail"]] = (lo, s["end"])
                lo = s["end"]
    for st in PIPELINE_STAGES:
        lo, hi = intervals.get(st, (0.0, 0.0))
        m[f"pipeline.{st}.s"] = hi - lo
    attributed = sum(hi - lo for lo, hi in intervals.values())
    m["pipeline.unattributed_s"] = run_wall - attributed if run_wall else 0.0

    ckpt = result.get("ckpt")
    manifest = {}
    if ckpt and not query:
        from minhash_spark.sources.io import TableIO

        io = TableIO(ckpt)
        manifest = {st: io.manifest(st) or {} for st in PIPELINE_STAGES}
    sig_m = manifest.get("signatures", {})
    edge_m = manifest.get("edges", {})
    reps = sig_m.get("rows", 0)
    n_files = result.get("n_files", 0)
    fresh = sig_m.get("metrics", {}).get("computed_fresh_contents", reps)
    m["signatures.reps"] = reps
    m["signatures.rep_ratio"] = _ratio(reps, n_files)
    m["signatures.fresh_contents"] = fresh
    m["signatures.fresh_ratio"] = _ratio(fresh, reps)
    m["session.scan_partitions"] = counts.get("scan_partitions", 0)

    cands = counts.get("candidates", 0)
    surv = counts.get("survivors", 0)
    num_bands = workload.config().num_bands if not query else 0
    m["lsh.candidate_pairs.s"] = spans.total("lsh", "candidate_pairs") + spans.total(
        "lsh", "incremental_candidate_pairs"
    )
    m["lsh.bucket_rows"] = reps * num_bands
    m["lsh.candidates"] = cands
    m["lsh.candidates_per_rep"] = _ratio(cands, reps)
    m["lsh.overflow_buckets"] = edge_m.get("metrics", {}).get("overflow_buckets", 0)
    m["lsh.overflow_members"] = edge_m.get("metrics", {}).get("overflow_members", 0)

    edges = edge_m.get("rows", 0)
    carried = edge_m.get("metrics", {}).get("carried_edges", 0)
    m["verify.verify_pairs.s"] = spans.total("verify", "verify_pairs")
    m["verify.barrier.s"] = spans.total("verify", "barrier")
    m["verify.survivors"] = surv
    m["verify.prefilter_pass_ratio"] = _ratio(surv, cands)
    m["verify.accept_ratio"] = _ratio(edges - carried, surv)
    m["verify.edges"] = edges
    m["verify.carried_edges"] = carried

    m["components.connected_components.s"] = spans.total("components", "connected_components")
    m["components.edges_in"] = spans.cc_stats.get("n_edges", 0)
    m["components.rounds"] = spans.cc_stats.get("rounds", 0)
    clusters = 0
    if ckpt and not query:
        import pyarrow.parquet as pq

        col = pq.read_table(os.path.join(ckpt, "clusters"), columns=["cluster_id"]).column(0)
        clusters = len(set(col.to_pylist()))
    m["components.clusters"] = clusters

    n_written, bytes_written = _dir_usage(ckpt) if ckpt and not query else (0, 0)
    m["io.bytes_written_mb"] = bytes_written / (1024.0 * 1024.0)
    m["io.write_amplification"] = _ratio(bytes_written, workload.input_bytes()) if not query else 0.0
    m["io.files_written"] = n_written

    for st in PIPELINE_STAGES:
        lo, hi = intervals.get(st, (0.0, 0.0))
        sm = tr.stage_metrics(tasks, lo, hi, cores) if hi > lo else {}
        for key in ("task_s", "core_util", "task_skew", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            m[f"spark.{st}.{key}"] = sm.get(key, 0.0)
    m["spark.jobs"] = sum(1 for t in jobs if window[0] <= t <= window[1])

    walls = result.get("walls", {})
    for name, _fn in QUERIES:
        m[f"queries.{name}.s"] = walls.get(name, 0.0)
    return m
