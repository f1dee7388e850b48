"""The ``llm_pipeline`` workload: one driver process calls the operator
API over a seeded corpus and materialises each stage.

An untimed first pass collects every stage's output, checks
``exact_dedup`` against the planted exact copies and compares each
stage's digest with the one recorded for the same seed. Timed passes
then write each stage to the ``noop`` sink until ``seconds`` have
passed; the MinHash pairs are materialised with ``localCheckpoint``
because connected components consume them.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

from . import fixtures
from .common import FIXTURES, RssSampler, median, rss_kb, spark_env, stop_spark, tree_pids
from .spans import OPERATOR_STAGES

SIZES = {"full": 10_000, "tiny": 1_000}
# bm25 queries: the first words of every QUERY_EVERY-th document
QUERY_EVERY = 200


def _stages(docs, queries):
    from cowsdb_spark.operators.dedup import connected_components, exact_dedup, minhash_lsh_pairs, simhash_pairs
    from cowsdb_spark.operators.retrieval import bm25_topk
    from cowsdb_spark.operators.text import dup_ngram_coverage, lang_id, quality_score

    state = {}

    def pairs():
        state["pairs"] = minhash_lsh_pairs(docs).localCheckpoint()
        return state["pairs"]

    return {
        "quality_score": lambda: quality_score(docs),
        "lang_id": lambda: lang_id(docs),
        "exact_dedup": lambda: exact_dedup(docs),
        "minhash_lsh_pairs": pairs,
        "connected_components": lambda: connected_components(state["pairs"]),
        "simhash_pairs": lambda: simhash_pairs(docs),
        "dup_ngram_coverage": lambda: dup_ngram_coverage(docs, n=6, min_docs=2),
        "bm25_topk": lambda: bm25_topk(docs, queries, k=10),
    }, state


def _digest(rows) -> str:
    def canon(v):
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        return repr(v)

    h = hashlib.sha256()
    for line in sorted("\t".join(canon(v) for v in r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class WorkerRss(threading.Thread):
    """Peak summed RSS of the PySpark Python workers while a stage
    runs (traced runs)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._done = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._done.is_set():
            kb = 0
            for pid in tree_pids(me):
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as f:
                        cmd = f.read()
                except OSError:
                    continue
                if b"pyspark" in cmd and b"java" not in cmd:
                    kb += rss_kb(pid)
            self.peak_mb = max(self.peak_mb, kb / 1024.0)
            self._done.wait(0.1)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_mb


def llm_pipeline(seed: int, seconds: float, size: str, tracer=None, run_dir: str = "") -> dict:
    n = SIZES[size]
    path, classes = fixtures.docs(seed, n)
    os.environ.update(spark_env(run_dir))
    with RssSampler(os.getpid()) as rss:
        t0 = time.perf_counter()
        from pyspark.sql import functions as F

        from cowsdb_spark.session import get_spark

        spark = get_spark("perfbench-llm-pipeline")
        docs = spark.read.parquet(path)
        docs.count()
        setup_s = time.perf_counter() - t0
        queries = docs.filter(F.col("doc_id") % QUERY_EVERY == 0).select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(F.split("text", " "), 1, 8), " ").alias("qtext"),
        )
        stages, state = _stages(docs, queries)

        # untimed pass: outputs, their digests and the exact-dup check
        failed = 0
        errors = []
        digests = {}
        for name in OPERATOR_STAGES:
            rows = [tuple(r) for r in stages[name]().collect()]
            digests[name] = _digest(rows)
            if name == "exact_dedup":
                want_survivors = n - sum(v - 1 for v in classes.values())
                got = {r[0]: r[1] for r in rows if r[1] > 1}
                if len(rows) != want_survivors or got != classes:
                    failed += 1
                    errors.append(f"exact_dedup: {len(rows)} survivors, {len(got)} classes; "
                                  f"planted {want_survivors} and {len(classes)}")
        failed += _compare_digests(seed, n, digests, errors)

        check_s = time.perf_counter() - t0 - setup_s
        counters = None
        if tracer is not None:
            from .spans import SparkCounters

            counters = SparkCounters(spark)
            window_before = counters.snapshot()
        walls: dict[str, list[float]] = {s: [] for s in OPERATOR_STAGES}
        per_stage: dict[str, list[dict]] = {s: [] for s in OPERATOR_STAGES}
        w0 = time.perf_counter()
        pass_s = []
        while time.perf_counter() - w0 < seconds:
            p0 = time.perf_counter()
            for name in OPERATOR_STAGES:
                if counters is not None:
                    before = counters.snapshot()
                    workers = WorkerRss()
                    workers.start()
                s0 = time.perf_counter()
                df = stages[name]()
                if name != "minhash_lsh_pairs":
                    df.write.format("noop").mode("overwrite").save()
                walls[name].append(time.perf_counter() - s0)
                if counters is not None:
                    d = counters.delta(before)
                    d["worker_rss_mb"] = workers.stop()
                    per_stage[name].append(d)
            pass_s.append(time.perf_counter() - p0)
        wall = time.perf_counter() - w0
        exec_delta = counters.delta(window_before) if counters is not None else None
        stop_spark(spark)

    passes = len(pass_s)
    docs_per_s = n * passes / wall
    report = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (docs_per_s, "docs/s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "failed_frac": (failed / (len(OPERATOR_STAGES) * (passes + 1)), "ratio"),
    }
    layers = {}
    if tracer is not None:
        for name in OPERATOR_STAGES:
            ds = per_stage[name]
            layers[f"op.{name}.s"] = median(walls[name])
            layers[f"op.{name}.jobs"] = median([d["jobs"] for d in ds])
            layers[f"op.{name}.shuffle_write_mb"] = median([d["stage_shuffle_write_mb"] for d in ds])
            layers[f"op.{name}.spill_mb"] = median([d["spill_mb"] for d in ds])
            layers[f"op.{name}.worker_rss_mb"] = max(d["worker_rss_mb"] for d in ds)
        from .spans import execute_metrics

        layers.update(execute_metrics(exec_delta))
        layers["execute.drain_ms_total"] = wall * 1e3
    return {
        # every stage call of every pass, the untimed one included
        "attempted": len(OPERATOR_STAGES) * (passes + 1),
        "failed": failed,
        "errors": errors,
        "e2e": {
            "setup_s": setup_s,
            # one full pass over the corpus
            "latency_p50_ms": median(pass_s) * 1e3,
            "ops_per_s": len(OPERATOR_STAGES) * passes / wall,
            "rows_per_s": docs_per_s,
            "peak_rss_mb": rss.peak_mb,
        },
        "report": report,
        "layers": layers,
        "phases": {"setup": setup_s, "check pass": check_s, f"{passes} timed passes": wall},
    }


def _compare_digests(seed: int, n: int, digests: dict, errors: list) -> int:
    """Stage outputs must be identical for the same seed: compare with
    the digests the first run of this seed recorded."""
    path = os.path.join(FIXTURES, f"docs-s{seed}-n{n}.digests.json")
    if not os.path.exists(path):
        fixtures._atomic_write(path, json.dumps(digests).encode())
        return 0
    with open(path) as f:
        recorded = json.load(f)
    bad = [k for k in OPERATOR_STAGES if recorded.get(k) != digests[k]]
    if bad:
        errors.append(f"stage output digests changed for seed {seed}: {bad}")
    return len(bad)


WORKLOADS = {"llm_pipeline": llm_pipeline}
