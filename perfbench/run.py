#!/usr/bin/env python3
"""Log-datalake benchmark: one command per workload.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Workloads (sizes, rates, query mix and the reason for each in
``perfbench/workloads.json``):

- ``ingest_backfill``  IngestJob drains a seeded CRI backlog (closed loop)
- ``log_search``       y-logcli query mix over a static lake (closed loop)
- ``operator_suite``   registry queries over generated tables (closed loop)

Spark runs as ``local[<cores this process may use>]``. The command
drives the package only through its public functions, from this
process; the load runs on its main thread.

Every workload reports every metric named in ``BENCHMARK.json``; what
each one means per workload is in ``perfbench/README.md``. ``--trace 0``
prints the end-to-end metrics. ``--trace 1`` measures the same window
untraced, then again with spans around every layer call, then runs
single-layer probes; it prints the per-layer metrics (0 for a layer the
workload does not call) and writes the span dump and the per-layer
record under ``.bench_out/``.

Output: a detail JSON line (set-up parts, samples, check messages,
input sizes), then, as the last line, ``{"correct", "attempted",
"failed", "metrics"}``. Exit status is 0 when the run completed.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark's Python workers (mapInArrow / applyInArrow) import the package
# by name; they inherit PYTHONPATH from the JVM this process launches,
# so the package resolves whatever directory the command starts from.
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

WORKLOADS = {
    "ingest_backfill": "perfbench.ingest",
    "log_search": "perfbench.search",
    "operator_suite": "perfbench.suite",
}


def contract() -> dict:
    """Metric names and units, from the benchmark's ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {kind: {m["name"]: m["unit"] for m in bench[kind]} for kind in ("end_to_end", "per_layer")}


def one(workload: str, seed: int, seconds: float, trace: bool, cfg: dict) -> dict:
    from perfbench.common import Run, finite, host_jiffies, layer_metrics, peak_rss_mb

    units = contract()
    mod = importlib.import_module(WORKLOADS[workload])
    run = Run(workload, seed, seconds, trace, cfg[workload])
    try:
        run.setup["session_s"] = run.start_spark()
        run.tracer.enabled = False  # set-up and the untraced window record no spans
        state = mod.setup(run)
        setup_s = sum(run.setup.values())
        untraced = mod.measure(run, state) if trace else None
        run.tracer.enabled = trace
        j0 = host_jiffies()
        e2e = mod.measure(run, state)
        j1 = host_jiffies()
        run.detail["host_steal_pct"] = 100.0 * (j1[1] - j0[1]) / max(j1[0] - j0[0], 1)
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = peak_rss_mb()
        if trace:
            own = mod.layers(run, state)  # runs the single-layer probes, so spans come after
            layers = {name: 0.0 for name in units["per_layer"]}
            layers.update(layer_metrics(run.tracer, {
                "session.start_s": "session.start",
                "cri.parse_s": "sources.cri.parse",
                "logs.write_parquet_s": "sources.logs.write_parquet",
                "logs.read_native_plan_s": "sources.logs.read_native_plan",
                "logs.read_positional_plan_s": "sources.logs.read_positional_plan",
                "arrow.write_s": "sources.arrow_ipc.write",
                "arrow.read_probe_s": "sources.arrow_ipc.read_probe",
                "arrow.decode_s": "sources.arrow_ipc.decode",
                "selector.parse_s": "plans.selector.parse",
                "logquery.plan_s": "plans.logquery.projected",
                "render.s": "plans.render",
            }))
            layers.update(own)
            for k in ("p50_s", "first_p50_s"):
                layers[f"trace.overhead_{k.replace('_s', '')}_pct"] = (
                    100.0 * (e2e[k] - untraced[k]) / untraced[k])
            layers["trace.spans"] = len(run.tracer.spans)
            layers["trace.bookkeeping_s"] = run.tracer.bookkeeping_s
            out_dir = os.path.join(ROOT, ".bench_out")
            stem = os.path.join(out_dir, f"{workload}-seed{seed}")
            run.tracer.dump(stem + "-spans.json")
            with open(stem + "-layers.json", "w") as fh:
                json.dump({"layers": layers, "e2e_traced": e2e, "e2e_untraced": untraced}, fh, indent=1)
        metrics = (
            {k: {"value": finite(float(layers[k])), "unit": u} for k, u in units["per_layer"].items()}
            if trace else
            {k: {"value": float(e2e[k]), "unit": u} for k, u in units["end_to_end"].items()}
        )
        return {
            "workload": workload, "seed": seed, "cores": run.cores, "seconds": seconds,
            "setup": run.setup, "detail": run.detail, "e2e": e2e,
            "attempted": run.checks.attempted, "failed": run.checks.failed,
            "check_messages": run.checks.messages, "metrics": metrics,
        }
    finally:
        run.close()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    for name in names:
        t0 = time.time()
        try:
            res = one(name, args.seed, args.seconds, bool(args.trace), cfg)
        except Exception:  # noqa: BLE001 — a run that cannot complete prints no result
            traceback.print_exc()
            return 1
        res["wall_s"] = time.time() - t0
        print(json.dumps({k: v for k, v in res.items() if k != "metrics"}), flush=True)
        results.append(res)
    metrics = {}
    for res in results:
        prefix = "" if len(results) == 1 else res["workload"] + "."
        metrics.update({prefix + k: v for k, v in res["metrics"].items()})
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
