#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|serve|curate --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds a Spark session on ``local[nproc]``,
generates the workload's inputs from ``--seed``, warms up, sets the
workload up ``SETUP_REPS`` times, then runs a closed-loop timed pass of
``--seconds``. Every output is checked against a reference computed from
the generated inputs.

stdout ends with two JSON lines: a run record (host, versions, per-operation
counts and latencies, and the per-workload metrics the run exercises) and
the result ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1`` the
run makes an untraced pass of half the length, a traced pass and another
half-length untraced pass, each on its own set-up, and the metrics are the
per-layer ones. The spans of the traced run are
written to ``.perfbench_out/``.

Exit code: 0 when every check passed, 1 when an output was wrong, 2 when the
library is missing or the input-regime probes reject the inputs.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 2  # set-ups per run; setup_s takes their median

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "items_per_s": "1/s", "quality": "ratio"}

# per-layer metric -> unit; layers are the library's modules
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "catalog.upsert.p50_s": "s",
    "catalog.upsert.jobs": "count",
    "catalog.upsert.tasks": "count",
    "catalog.auto_compactions": "count",
    "catalog.compact.busy_s": "s",
    "catalog.read.files": "count",
    "catalog.resolve.p50_s": "s",
    "catalog.bytes_on_disk": "bytes",
    "catalog.user_bytes": "bytes",
    "catalog.self_s": "s",
    "knn.score.self_s": "s",
    "knn.search.jobs": "count",
    "knn.self_s": "s",
    "ann.build.busy_s": "s",
    "ann.build.jobs": "count",
    "ann.cells": "count",
    "ann.search.p50_s": "s",
    "ann.search.jobs": "count",
    "ann.route_exact_fallbacks": "count",
    "ann.batch.p50_s": "s",
    "ann.batch.jobs": "count",
    "ann.self_s": "s",
    "dedup.exact.p50_s": "s",
    "dedup.minhash.p50_s": "s",
    "dedup.minhash.jobs": "count",
    "dedup.components.p50_s": "s",
    "dedup.ladder_level": "count",
    "dedup.candidate_volume": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.self_s": "s",
    "textanalysis.quality.p50_s": "s",
    "textanalysis.self_s": "s",
    "textops.vocab.p50_s": "s",
    "textops.self_s": "s",
    "trace.uncovered_s": "s",
    "trace.overhead_s": "s",
}
LAYERS = ("catalog", "knn", "ann", "dedup", "textanalysis", "textops")
# workload metrics named by what the caller sees, for the run record
NAMED_UNITS = {
    "upsert_p50_s": "s", "upsert_tail_s": "s", "search_p50_s": "s", "search_tail_s": "s",
    "batch_qps": "1/s", "docs_per_s": "1/s", "space_amplification": "ratio",
    "recall_at_5": "ratio", "dup_recall": "ratio", "error_rate": "ratio",
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "serve", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout. Must
    run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the launcher starts: temp files into the checkout, and no
    # hsperfdata files (which always go to /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def op_table(rec) -> dict:
    from perfbench.workloads import tail

    table = {}
    for name in sorted(rec.attempted):
        lat = rec.latency.get(name, [])
        t, pct = tail(lat)
        table[name] = {
            "attempted": rec.attempted[name], "failed": rec.failed[name], "n": len(lat),
            "p50_s": statistics.median(lat) if lat else None, "tail_s": t, "tail_pct": pct,
        }
    return table


def per_layer(wl, rec, out: dict, untraced_p50: float, pass_s: float, session: dict, setup_rec) -> dict:
    from perfbench.workloads import median

    rec.count_jobs()
    setup_rec.count_jobs()
    spans = rec.spans

    def p50(name):
        return median([s.seconds for s in spans if s.name == name])

    def jobs(name, attr="jobs", pool=spans):
        return median([getattr(s, attr) for s in pool if s.name == name])

    m = {k: 0 for k in PER_LAYER}
    m.update(session)
    m["catalog.upsert.p50_s"] = p50("catalog.upsert")
    m["catalog.upsert.jobs"] = jobs("catalog.upsert")
    m["catalog.upsert.tasks"] = jobs("catalog.upsert", "tasks")
    m["catalog.resolve.p50_s"] = p50("catalog.resolve")
    by_req = {}
    for s in spans:
        if s.name in ("knn.search", "catalog.resolve"):
            by_req.setdefault(s.request, {})[s.name] = s.seconds
    m["knn.score.self_s"] = median([r["knn.search"] - r["catalog.resolve"] for r in by_req.values() if len(r) == 2])
    m["knn.search.jobs"] = jobs("knn.search")
    build = [s for s in setup_rec.spans if s.name == "ann.build"]
    m["ann.build.busy_s"] = median([s.seconds for s in build])
    m["ann.build.jobs"] = jobs("ann.build", pool=build)
    for op in ("ann.search", "ann.batch"):
        m[f"{op}.p50_s"] = p50(op)
        m[f"{op}.jobs"] = jobs(op)
    for op in ("dedup.exact", "dedup.minhash", "dedup.components", "textanalysis.quality", "textops.vocab"):
        m[f"{op}.p50_s"] = p50(op)
    m["dedup.minhash.jobs"] = jobs("dedup.minhash")
    for layer in LAYERS:
        m[f"{layer}.self_s"] = sum(s.seconds for s in spans if s.name.split(".")[0] == layer)
    m.update(wl.layer_counts(out))
    m["trace.uncovered_s"] = pass_s - sum(s.seconds for s in spans if s.parent is None)
    m["trace.overhead_s"] = wl.end_to_end(rec, out)["op_p50_s"] - untraced_p50
    return m


def run(args, work: str) -> int:
    import numpy as np

    from perfbench.checks import CheckFailed
    from perfbench.trace import Recorder
    from perfbench.workloads import WORKLOADS
    from vector_database_spark import get_spark

    load0 = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try:
        if sc.master != f"local[{cpus}]":
            print(f"perfbench: session runs on {sc.master}, expected local[{cpus}]", file=sys.stderr)
            return 2
        setup_rec = Recorder(sc, trace=bool(args.trace))
        t = time.perf_counter()
        try:
            wl = WORKLOADS[args.workload](spark, np.random.default_rng(args.seed), work)
        except CheckFailed as ex:  # the inputs lack the property the workload exists for
            print(f"perfbench: input-regime probe failed: {ex}", file=sys.stderr)
            return 2
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare(setup_rec)
        warmup_s = time.perf_counter() - t
        reps, states = [], []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            states.append(wl.setup(setup_rec))
            reps.append(time.perf_counter() - t)
        setup_s = start_s + inputs_s + warmup_s + statistics.median(reps)

        # a traced run brackets its traced pass between two untraced ones,
        # so the overhead estimate cancels the JVM still warming up
        correct, passes = True, []
        for traced in [False, True, False] if args.trace else [False]:
            state = states.pop() if states else wl.setup(setup_rec)
            rec = Recorder(sc, trace=traced)
            t = time.perf_counter()
            try:
                out = wl.run_pass(state, args.seconds if traced or not args.trace else args.seconds / 2, rec)
            except CheckFailed as ex:
                print(f"perfbench: output check failed: {ex}", file=sys.stderr)
                correct, out = False, None
            passes.append((rec, out, time.perf_counter() - t))
            if not correct:
                break

        attempted = sum(sum(r.attempted.values()) for r, _, _ in passes)
        failed = sum(sum(r.failed.values()) for r, _, _ in passes)
        rec, out, pass_s = passes[0]
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "nproc": cpus, "spark_cpus": sc.defaultParallelism, "master": sc.master,
            "loadavg_start": load0,
            "pyspark": spark.version, "jdk": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "setup": {"start_s": start_s, "inputs_s": inputs_s, "warmup_s": warmup_s, "reps_s": reps},
            "setup_ops": op_table(setup_rec), "ops": op_table(rec), "pass_s": pass_s,
        }
        metrics = {}
        if correct:
            named = wl.named(rec, out)
            named["error_rate"] = failed / attempted
            record["named"] = {k: {"value": v, "unit": NAMED_UNITS[k]} for k, v in named.items()}
            if args.trace:
                trec, tout, tpass_s = passes[1]
                session = {"session.start_s": start_s, "session.warmup_s": warmup_s}
                untraced = statistics.fmean(wl.end_to_end(r, o)["op_p50_s"] for r, o, _ in passes[::2])
                vals = per_layer(wl, trec, tout, untraced, tpass_s, session, setup_rec)
                units = PER_LAYER
                record["traced_ops"] = op_table(trec)
                os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
                setup_rec.spans.extend(trec.spans)
                setup_rec.write_spans(os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.jsonl"))
            else:
                vals = {"setup_s": setup_s, **wl.end_to_end(rec, out)}
                units = END_TO_END
            metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in units.items()}
        record["loadavg_end"] = os.getloadavg()[0]
        print(json.dumps({"run_record": record}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "vector_database_spark")):
        print(f"perfbench: the library (vector_database_spark/) is not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
