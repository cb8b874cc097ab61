"""datapipe_batch: closed loop of in-process library calls.

The datapipe operators have no HTTP route, so this workload calls them
directly, in a worker process of its own (the load generator never
imports pyspark). Each pass builds a fresh seeded shard, loads it into
Spark and runs minhash dedup, cosine top-k and the quality score to
completion; the outputs are checked against the shard's exact answers.

Worker usage: python3 perfbench/datapipe.py --seed N --seconds S
              --trace 0|1 --out result.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(BENCH_DIR))
    sys.path.insert(0, BENCH_DIR)

import common as C  # noqa: E402
import gen  # noqa: E402

OPS = ("dedup", "simsearch", "textstats")
WARM_PASSES = 3


def _pass(spark, shard, rec, traced: bool) -> tuple[dict, tuple]:
    """One shard through the three operators. Returns per-op
    {build_s, execute_s, jobs} and _check's verdict."""
    from gigapipe_spark.datapipe import dedup, simsearch, textstats

    docs = spark.createDataFrame(shard.docs, "doc_id long, text string")
    vecs = spark.createDataFrame(shard.vectors,
                                 "vec_id long, embedding array<double>")
    calls = {
        "dedup": lambda: dedup.minhash_lsh_pairs(docs, gen.DUP_THRESHOLD),
        "simsearch": lambda: simsearch.cosine_topk(vecs, shard.query_ids,
                                                   k=gen.TOPK),
        "textstats": lambda: textstats.quality_score(docs),
    }
    out, rows = {}, {}
    for op in OPS:
        group = f"perfbench-datapipe-{op}-{time.perf_counter_ns()}"
        if traced:
            spark.sparkContext.setJobGroup(group, op)
        t0 = time.perf_counter()
        df = calls[op]()
        t1 = time.perf_counter()
        build_jobs = rec.group_jobs(group) if traced else set()
        rows[op] = df.collect()
        t2 = time.perf_counter()
        out[op] = {"build_s": t1 - t0, "execute_s": t2 - t1}
        if traced:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            out[op]["build_jobs"] = len(build_jobs)
            out[op].update(rec.job_counts(rec.group_jobs(group)))
    return out, _check(shard, rows)


def _check(shard, rows) -> tuple[list, int]:
    """The errors, and the number of near-threshold duplicate pairs the
    dedup missed (allowed: see gen.SURE_JACCARD)."""
    errs = []
    pairs = {frozenset((r["doc_a"], r["doc_b"])) for r in rows["dedup"]}
    unexpected = pairs - shard.dup_pairs.keys()
    missed = [p for p in shard.dup_pairs if p not in pairs]
    sure = [p for p in missed if shard.dup_pairs[p] >= gen.SURE_JACCARD]
    if unexpected or sure:
        errs.append(f"dedup: {len(pairs)} pairs, expected "
                    f"{len(shard.dup_pairs)} ({len(unexpected)} unexpected, "
                    f"{len(sure)} missed at Jaccard >= {gen.SURE_JACCARD})")
    got: dict = {}
    for r in rows["simsearch"]:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    if got != shard.topk:
        errs.append("simsearch: top-k neighbours differ from brute force")
    toks = {r["doc_id"]: r["n_tokens"] for r in rows["textstats"]}
    if toks != shard.n_tokens:
        errs.append("textstats: token counts differ")
    return errs, len(missed) - len(sure)


def worker(seed: int, seconds: float, trace: int) -> dict:
    from gigapipe_spark.session import get_spark
    import tracer

    rec = tracer.Recorder()
    t_setup = time.perf_counter()
    spark = get_spark("perfbench.datapipe")
    session_s = time.perf_counter() - t_setup
    attempted, failures, missed = 0, [], 0
    # warm-up passes (query compilation, JIT), part of set-up
    for k in range(WARM_PASSES):
        _, (errs, miss) = _pass(spark, gen.datapipe_shard(seed, k), rec, False)
        attempted += 1
        failures += [f"warm-up {e}" for e in errs]
        missed += miss
    setup_s = time.perf_counter() - t_setup
    passes, k = [], WARM_PASSES
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        shard = gen.datapipe_shard(seed, k)  # input generation is untimed
        traced = bool(trace) and k % 2 == 0
        c0 = C.tree_cpu_s(os.getpid())
        p0 = time.perf_counter()
        ops, (errs, miss) = _pass(spark, shard, rec, traced)
        p1 = time.perf_counter()
        passes.append({"s": p1 - p0, "traced": traced,
                       "cpu_s": C.tree_cpu_s(os.getpid()) - c0,
                       "docs": len(shard.docs), "ops": ops})
        attempted += 1
        failures += errs
        missed += miss
        k += 1
    elapsed = sum(p["s"] for p in passes)
    spark.stop()
    return {"setup_s": setup_s, "session_s": session_s, "passes": passes,
            "elapsed_s": elapsed, "attempted": attempted,
            "failures": failures, "dedup_missed": missed}


def datapipe_batch(seed: int, seconds: float, trace: int, work: str) -> dict:
    out = os.path.join(work, "datapipe.json")
    child = C.Child(
        [sys.executable, os.path.join(BENCH_DIR, "datapipe.py"),
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
         "--out", out],
        cwd=work, env=C.bench_env(work),
        log_path=os.path.join(work, "datapipe.log"),
    )
    try:
        child.proc.wait()
    finally:
        child.stop()
    if child.proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"datapipe worker failed (exit {child.proc.returncode})")
    with open(out) as f:
        w = json.load(f)
    fails = C.Failures()
    for _ in range(w["attempted"] - len(w["failures"])):
        fails.record(None)
    for err in w["failures"]:
        fails.record(err)
    plain = [p for p in w["passes"] if not p["traced"]]
    pass_ms = [p["s"] * 1000 for p in plain]
    docs = sum(p["docs"] for p in w["passes"])
    named = {"setup_s": {"value": w["setup_s"], "unit": "s"},
             "session_s": {"value": w["session_s"], "unit": "s"},
             "docs_per_s": {"value": docs / w["elapsed_s"], "unit": "docs/s"},
             "peak_rss_mb": {"value": child.rss.mb(), "unit": "MB"}}
    named.update(C.summarize("pass", pass_ms))
    # CPU the worker's process tree used while passes ran, in cores
    named["worker_cpu_cores"] = {
        "value": sum(p["cpu_s"] for p in w["passes"]) / w["elapsed_s"],
        "unit": "cores"}
    named["dedup_missed_pairs"] = {"value": w["dedup_missed"], "unit": "count",
                                   "below_jaccard": gen.SURE_JACCARD}
    layers = {}
    for op in OPS:
        traced = [p["ops"][op] for p in w["passes"] if p["traced"]]
        n = max(len(traced), 1)
        layers[f"datapipe.{op}.build_ms"] = sum(t["build_s"] for t in traced) * 1000 / n
        layers[f"datapipe.{op}.build_jobs"] = sum(t.get("build_jobs", 0) for t in traced) / n
        layers[f"datapipe.{op}.execute_ms"] = sum(t["execute_s"] for t in traced) * 1000 / n
        layers[f"datapipe.{op}.jobs"] = sum(t.get("jobs", 0) for t in traced) / n
        layers[f"datapipe.{op}.tasks"] = sum(t.get("tasks", 0) for t in traced) / n
    if trace:
        layers["trace.overhead_ms"], layers["trace.overhead_n"] = C.overhead(
            [(p["traced"], p["s"] * 1000) for p in w["passes"]])
    return {
        "primary": {"throughput_per_s": docs / w["elapsed_s"]},
        "setup_s": w["setup_s"],
        "peak_rss_mb": child.rss.mb(),
        "fails": fails,
        "named": named,
        "samples": {"pass_ms": pass_ms},
        "sizes": {"docs_per_shard": gen.SHARD_DOCS,
                  "vectors_per_shard": gen.SHARD_VECS, "dim": gen.DIM,
                  "near_dup_share": gen.NEAR_DUP_SHARE,
                  "warm_up_passes": WARM_PASSES, "loop": "closed, 1 caller"},
        "layers": layers,
    }


def _main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    C.dump_json(a.out, worker(a.seed, a.seconds, a.trace))
    return 0


if __name__ == "__main__":
    raise SystemExit(_main())
