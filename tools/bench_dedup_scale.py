"""Dedup-pipeline scale run (VERDICT r4 #4): exact_dedup →
minhash_lsh_pairs → connected_components → keep-one over a 10M-doc
synthetic corpus, with per-stage wall-clock and shuffle bytes.

Writes BENCH_DEDUP_10M.json. This converts the "100 TB by design"
claim into a measured curve: every stage's shuffle volume is recorded
so the no-stage-shuffles-more-than-O(n) property is an artifact, not
an assertion.

Usage: python tools/bench_dedup_scale.py [n_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _shuffle_totals(spark) -> tuple[int, int]:
    """(shuffle_read_bytes, shuffle_write_bytes) summed over all
    completed stages, via the AppStatusStore (works with the UI
    disabled)."""
    try:
        store = spark._jsparkSession.sparkContext().statusStore()  # noqa: SLF001
        jvm = spark.sparkContext._jvm  # noqa: SLF001
        gw = spark.sparkContext._gateway  # noqa: SLF001
        it = store.stageList(
            None, False, False,
            gw.new_array(gw.jvm.double, 0), jvm.java.util.ArrayList(),
        ).iterator()
        rd = wr = 0
        while it.hasNext():
            s = it.next()
            rd += s.shuffleReadBytes()
            wr += s.shuffleWriteBytes()
        return rd, wr
    except Exception:  # noqa: BLE001 — metrics are best-effort
        return -1, -1


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    from cowsdb_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        minhash_lsh_pairs,
    )
    from cowsdb_spark.session import get_spark
    from tools.gen_docs import generate

    t0 = time.perf_counter()
    path = generate(n=n_docs)
    gen_s = round(time.perf_counter() - t0, 1)

    spark = get_spark("dedup-scale")
    docs = spark.read.parquet(path)

    out: dict = {"n_docs": n_docs, "gen_s": gen_s, "stages": {}}

    def stage(name: str, fn):
        r0, w0 = _shuffle_totals(spark)
        t0 = time.perf_counter()
        result = fn()
        wall = round(time.perf_counter() - t0, 1)
        r1, w1 = _shuffle_totals(spark)
        out["stages"][name] = {
            "wall_s": wall,
            "shuffle_read_mb": round((r1 - r0) / 1e6, 1) if r0 >= 0 else None,
            "shuffle_write_mb": round((w1 - w0) / 1e6, 1) if w0 >= 0 else None,
        }
        print(f"{name}: {wall}s  {out['stages'][name]}", flush=True)
        return result

    # 1. exact dedup: fingerprint group-by; bodies never shuffle
    survivors = stage(
        "exact_dedup",
        lambda: exact_dedup(docs).persist(),
    )
    out["exact_survivors"] = stage(
        "exact_dedup_count", lambda: survivors.count()
    )

    # 2. MinHash-LSH candidate pairs over the exact-dedup survivors
    # (standard pipeline order: near-dup detection never pays for
    # byte-exact copies). Persisted because CC iterates over it.
    surv_docs = docs.join(survivors.select("doc_id"), "doc_id")
    pairs = stage(
        "minhash_lsh_pairs",
        lambda: minhash_lsh_pairs(surv_docs, min_jaccard=0.5).persist(),
    )
    out["near_dup_pairs"] = stage("pairs_count", lambda: pairs.count())

    # 3. connected components over the pair graph
    comps = stage(
        "connected_components",
        lambda: connected_components(pairs).persist(),
    )
    out["clustered_docs"] = stage("components_count", lambda: comps.count())

    # 4. keep-one: drop every non-representative member
    def keep_one():
        keep = comps.filter(F.col("id") == F.col("comp")).select(
            F.col("id").alias("doc_id")
        )
        drop = comps.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias("doc_id")
        )
        kept = survivors.join(drop, "doc_id", "left_anti")
        return kept.count()

    out["final_kept"] = stage("keep_one", keep_one)
    out["total_pipeline_s"] = round(
        sum(s["wall_s"] for s in out["stages"].values()), 1
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(
        os.path.join(repo, f"BENCH_DEDUP_{n_docs // 1_000_000}M.json"), "w"
    ) as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
