"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_dash --seed 1 --seconds 20 --trace 0

prints human-readable lines, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` the per-layer ones, from a separate traced run that also
writes its spans to ``.perfbench/traces`` and reports the tracing
overhead against the untraced run of the same workload.

``--suite`` runs every workload untraced and traced, each in its own
process; ``--suite --size tiny`` is the harness self-check.

Run it from the root of a checkout of the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import RESULTS, ROOT, TRACES, new_run_dir, remove_run_dir, spark_env  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
WORKLOAD_NAMES = ["serve_dash", "serve_ingest", "llm_pipeline"]
REQUIRED = ["cowsdb_spark/__init__.py", "cowsdb_spark/__main__.py", "tools/gen_hits.py", "tools/gen_docs.py"]


def _workload(name: str):
    from perfbench import pipeline, serve

    return {**serve.WORKLOADS, **pipeline.WORKLOADS}[name]


def run_one(args) -> int:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"not a checkout of the program: missing {', '.join(missing)}", file=sys.stderr)
        return 2
    run_dir = new_run_dir(f"{args.workload}-s{args.seed}-t{args.trace}")
    tracer = None
    try:
        if args.trace:
            from perfbench.spans import Tracer

            # the engine runs in this process: pin its environment
            # before cowsdb_spark is imported, and keep every stage in
            # the status store for the spill totals
            os.environ.update(spark_env(run_dir))
            os.environ["PYSPARK_SUBMIT_ARGS"] = (
                "--conf spark.ui.retainedJobs=1000000 --conf spark.ui.retainedStages=1000000 pyspark-shell"
            )
            tracer = Tracer()
            if args.workload != "llm_pipeline":
                tracer.instrument_server()
        fn = _workload(args.workload)
        res = fn(args.seed, args.seconds, args.size, tracer=tracer, run_dir=run_dir)
    except Exception:  # noqa: BLE001 — report and fail the run
        traceback.print_exc()
        return 1
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        remove_run_dir(run_dir)

    tag = f"{args.workload}-s{args.seed}"
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} size {args.size}")
    for name, (value, unit) in res["report"].items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:<20} {shown:>12} {unit}")
    print("  phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in res.get("phases", {}).items()))
    for err in res["errors"]:
        print(f"  error: {err}")
    if args.trace:
        metrics = _layer_metrics(args, res, tracer, tag)
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
        os.makedirs(RESULTS, exist_ok=True)
        with open(os.path.join(RESULTS, f"{tag}-t0.json"), "w") as f:
            json.dump({"e2e": res["e2e"], "report": res["report"]}, f)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def _layer_metrics(args, res, tracer, tag) -> dict:
    from perfbench import spans

    if args.workload == "llm_pipeline":
        layers = res["layers"]
    else:
        layers = spans.server_layers(tracer, res["records"], res["window"], res["exec_delta"], res["storage"],
                                     res["inserted_rows"])
    overhead = _overhead(args.workload, args.seed, res["e2e"])
    for name, d in overhead.items():
        print(f"  trace overhead {name:<16} {d['traced'] - d['untraced']:+.6g} {E2E_UNITS[name]}"
              f" (untraced {d['untraced']:.6g}, seed {d['seed']})")
    if not overhead:
        print("  trace overhead: no untraced run of this workload in .perfbench/results")
    tracer.dump(os.path.join(TRACES, f"{tag}.json"), {
        "workload": args.workload, "seed": args.seed, "layers": layers,
        "e2e_traced": res["e2e"], "overhead": overhead,
    })
    for name, unit in spans.LAYER_METRICS:
        if name in layers:
            print(f"  {name:<34} {layers[name]:>14.6g} {unit}")
    return spans.complete(layers)


def _overhead(workload: str, seed: int, traced: dict) -> dict:
    """Traced minus untraced end-to-end metrics; the untraced run of
    the same seed if there is one, else the latest of the workload."""
    if not os.path.isdir(RESULTS):
        return {}
    same = os.path.join(RESULTS, f"{workload}-s{seed}-t0.json")
    if not os.path.exists(same):
        runs = [os.path.join(RESULTS, f) for f in os.listdir(RESULTS) if f.startswith(f"{workload}-s")]
        if not runs:
            return {}
        same = max(runs, key=os.path.getmtime)
    with open(same) as f:
        base = json.load(f)["e2e"]
    used = os.path.basename(same).split("-s")[-1].split("-t")[0]
    return {k: {"traced": traced[k], "untraced": base[k], "seed": used} for k in E2E_UNITS}


def run_suite(args) -> int:
    """Every workload untraced then traced, each in a fresh process."""
    status = 0
    for name in WORKLOAD_NAMES:
        for trace in (0, 1):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(trace), "--size", args.size],
                cwd=ROOT, stdout=subprocess.PIPE, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            try:
                result = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                result = None
            want = set(E2E_UNITS) if trace == 0 else set(_layer_names())
            ok = (proc.returncode == 0 and result is not None and result["correct"]
                  and result["failed"] == 0 and set(result["metrics"]) == want
                  and all(m.get("unit") for m in result["metrics"].values()))
            print(f"== {name} trace={trace}: {'PASS' if ok else 'FAIL'} in {time.perf_counter() - t0:.1f} s")
            if result is not None:
                for k, m in result["metrics"].items():
                    print(f"     {k} = {m['value']:.6g} {m['unit']}")
            status |= not ok
    return status


def _layer_names() -> list[str]:
    from perfbench.spans import LAYER_METRICS

    return [n for n, _ in LAYER_METRICS]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: small inputs through the same code path")
    p.add_argument("--suite", action="store_true", help="run every workload, untraced and traced")
    args = p.parse_args()
    if args.suite:
        return run_suite(args)
    if not args.workload:
        p.error("--workload is required without --suite")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
