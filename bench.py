"""Benchmark runner — the driver's per-round feedback loop.

Runs three sections, each in its OWN subprocess (fresh JVM), and
merges their results into ONE compact JSON line as the FINAL stdout
line::

    {"metric":"...","value":<total sec>,"unit":"sec",
     "queries":{"q05_filtered_agg":sec,...,"cb_total":sec},
     "hits_10m":{...},"sf":0.1}

Sections (tools/bench_section.py):
  conformance — the full queries() registry at $SPARK_GRAFT_SF_DIR
  cb_sample   — 43 ClickBench queries on the 100k hits fixture
  scaling     — heavy operator families on 300k-10M-row fixtures
                (r10; reported as the additive "scaling" key so the
                driver's lower-core re-run yields real per-operator
                ratios — sf0.1 walls are scheduling-floor-bound)
  cb_10m      — same 43 at 10M rows, ours vs DuckDB, min-of-3

Integrity rule (r9 verdict #1): timed entries may not read ANY
cross-call cache — every warm-up/timed pass recomputes from the
parquet inputs, so t19's timed pass rebuilds its IVF index and
t30/t37 rerun label propagation, as the warm-up did
(tests/test_operators.py::TestBenchHonesty).

Why subprocesses (r5 change, VERDICT r4 "What's wrong" #1-2): the r4
monolithic bench ran everything in one aging SparkSession; late
sections measured the session's history, not the engine (cb34 3.15 s
committed vs 0.54 s fresh; the "sf0.1 shared-query regression" was
the same artifact).  One system, one clean process — ClickBench's own
convention — makes every number reproducible in isolation:

    python tools/bench_section.py cb_10m

The driver stores only the last ~2000 chars of stdout and parses the
tail, so the final line must stay well under that budget: the
43-query ClickBench sweep is folded into one ``cb_total`` entry on
stdout, with per-query breakdowns on stderr.

Crash policy (VERDICT r2 #3): every section is isolated — a dead
section records an ``errs`` entry and the run continues; the final
JSON line prints NO MATTER WHAT.

Timing protocol (BASELINE.md notes): JVM/session startup excluded;
one warm-up pass per query, then min-of-N timed passes (N=3 at 10M,
N=1 elsewhere) — ClickBench's hot-run convention, which is what the
chdb/duckdb baseline uses.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SECTION_TIMEOUT_S = 1800


def run_section(name: str, errs: dict) -> dict:
    """Run one bench section in a fresh interpreter; parse its
    SECTION_JSON line. Failure records errs[name] and returns {}."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "bench_section.py"), name],
            capture_output=True, text=True, timeout=SECTION_TIMEOUT_S,
        )
        sys.stderr.write(proc.stderr[-4000:])
        for line in proc.stdout.splitlines():
            if line.startswith("SECTION_JSON "):
                out = json.loads(line[len("SECTION_JSON "):])
                for k, v in out.pop("errs", {}).items():
                    errs[f"{name}:{k}"] = v
                return out
        errs[name] = f"no SECTION_JSON (rc={proc.returncode})"
    except Exception as e:  # noqa: BLE001 — bench must keep going
        errs[name] = repr(e)[:300]
    return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    errs: dict[str, str] = {}
    timings: dict[str, float] = {}
    hits_10m = None

    conf = run_section("conformance", errs)
    timings.update(conf.get("queries", {}))

    cb = run_section("cb_sample", errs)
    cb_q = cb.get("queries", {})
    if cb_q:
        timings["cb_total"] = round(sum(cb_q.values()), 3)
        print(json.dumps({"clickbench_detail": cb_q}, separators=(",", ":")),
              file=sys.stderr)

    scal = run_section("scaling", errs)
    scaling = scal.get("queries") or None

    ten = run_section("cb_10m", errs)
    if ten.get("spark"):
        hits_10m = {
            "rows": 10_000_000,
            "spark": ten["spark_total"],
            "duckdb": ten["duckdb_total"],
        }
        detail = {
            "rows": 10_000_000,
            "spark_total": ten["spark_total"],
            "duckdb_total": ten["duckdb_total"],
            "spark": ten["spark"],
            "duckdb": ten["duckdb"],
            "ratio_spark_over_duckdb": {
                k: round(ten["spark"][k] / max(ten["duckdb"].get(k, 0), 1e-9), 2)
                for k in ten["spark"]
            },
        }
        print(json.dumps({"hits_10m_detail": detail}, separators=(",", ":")),
              file=sys.stderr)
        try:
            with open(os.path.join(REPO, "BENCH_10M.json"), "w") as f:
                json.dump(detail, f, indent=1)
        except OSError:
            pass

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "conformance-suite warm wall-clock, Spark local",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if hits_10m is not None:
        payload["hits_10m"] = hits_10m
    if scaling:
        # per-operator scaling lane (r9 verdict #2): heavy operator
        # families on 300k-10M-row fixtures, where an 8-vs-32-core
        # re-run yields real ratios (sf0.1 is scheduling-floor-bound).
        # NOT added to "queries"/"value": different data, different
        # scale — additive keys only, the conformance totals stay
        # comparable round-over-round.
        payload["scaling"] = scaling
    if errs:
        payload["errs"] = {k: v[:40] for k, v in errs.items()}
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1800:  # driver tail buffer is 2000 chars — degrade safely
        payload["queries"] = {k: round(v, 2) for k, v in timings.items()}
        if errs:
            payload["errs"] = {k: "" for k in errs}
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1800:  # still too big: drop per-query detail, keep totals
        payload["queries"] = {"cb_total": timings.get("cb_total", 0.0)}
        payload.pop("scaling", None)
        line = json.dumps(payload, separators=(",", ":"))
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()
