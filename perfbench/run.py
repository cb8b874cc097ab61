"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload against the program built from this checkout and
prints, as the last line of standard output, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
they are the per-layer metrics of a traced run of the same workload.
The line before it is a JSON detail record: the run environment, data
sizes, every named metric with its unit and sample count, and the
failure reasons.

Workloads: live_mixed (HTTP; the service runs in its own process) and
datapipe_batch (in-process library calls in a worker process).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import common as C  # noqa: E402

RUN_LIMIT_S = 170


def _workloads():
    import datapipe
    import workloads

    return {"live_mixed": workloads.live_mixed,
            "datapipe_batch": datapipe.datapipe_batch}


def _layers(workload: str, res: dict, reasons: dict) -> tuple[dict, dict, int]:
    """Per-layer metrics, the other per-layer values (for the detail
    record) and the number of declared spans that never fired on this
    workload (each one fails the traced run)."""
    import tracer

    values = dict(res["layers"])
    missing = 0
    if "spans" in res:
        spans = res["spans"]
        values.update(tracer.aggregate(spans, res["writes"]))
        fired = {s["name"] for s in spans}
        for name, wls in tracer.DECLARED.items():
            if workload in wls and name not in fired:
                missing += 1
                reasons[f"declared span {name} never fired"] = 1
    elif workload == "datapipe_batch" and not values.get("datapipe.dedup.build_ms"):
        missing += 1
        reasons["no traced datapipe pass"] = 1
    # a layer the workload bypasses reports 0
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in C.catalogue()["per_layer"]}
    extra = {k: v for k, v in values.items() if k not in metrics}
    return metrics, extra, missing


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(C.ROOT, "gigapipe_spark", "__main__.py")):
        C.log("gigapipe_spark is not in this checkout: nothing to benchmark")
        return 2
    table = _workloads()
    if args.workload not in table:
        C.log(f"unknown workload {args.workload!r}; one of {sorted(table)}")
        return 2

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S}s")

    def _terminate(*_):
        raise SystemExit(143)  # unwinds through the workload's clean-up

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(RUN_LIMIT_S)
    C.become_subreaper()
    work = os.path.join(C.ROOT, ".perfbench_run",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    steal0 = C.cpu_steal_s()
    res = table[args.workload](args.seed, args.seconds, args.trace, work)
    signal.alarm(0)

    f = res["fails"]
    attempted, failed, reasons = f.attempted, f.failed, dict(f.reasons)
    if args.trace:
        metrics, extra, missing = _layers(args.workload, res, reasons)
        failed += missing
        attempted += missing
    else:
        values = dict(res["primary"], setup_s=res["setup_s"],
                      peak_rss_mb=res["peak_rss_mb"])
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit in C.catalogue()["end_to_end"]}
        if any(m["value"] is None for m in metrics.values()):
            raise RuntimeError(f"a metric has no samples: {metrics}")
    store_bytes = sum(v["bytes"] for v in res.get("store", {}).values()) or None
    detail = {
        "workload": args.workload,
        "trace": args.trace,
        "env": dict(C.run_environment(args.seed, store_bytes),
                    cpu_steal_s=C.cpu_steal_s() - steal0),
        "sizes": res["sizes"],
        "named": res["named"],
        "per_query": res.get("per_query"),
        "samples": res.get("samples"),
        "failure_reasons": reasons,
        "failed_ratio": failed / max(attempted, 1),
    }
    if args.trace:
        detail["layers_extra"] = extra
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
