#!/usr/bin/env python
"""Batch index-search stress at 1M rows (appends to STRESS.md).

Quantifies what probe-set unioning buys: N queries against the persisted
IVF layout as (a) N sequential per-query searches (each its own job over
its own probe cells) vs (b) ONE ivf_knn_batch scan of the union of all
probe cells, each candidate equi-joined to exactly the queries that
probed its cell. Rows are asserted identical — the delta is pure
job-overhead + scan-sharing. Same comparison for the persisted LSH
layout (lsh_knn_pruned_df vs lsh_knn_batch_df).
Usage: python tools/stress_batch_index.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vector_database_spark.operators import ann  # noqa: E402
from vector_database_spark.session import get_spark  # noqa: E402
from tools.stress_knn import synth_embeddings  # noqa: E402

N_ROWS = 1_000_000
N_QUERIES = 16
K = 5


def main() -> None:
    spark = get_spark("stress-batch-index")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    src = f"/tmp/stress_emb_{N_ROWS}"
    if not os.path.exists(src):
        synth_embeddings(spark, N_ROWS, sf_dir, src)
    emb = spark.read.parquet(src)
    queries = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    ]
    lines = [
        f"{N_ROWS:,} rows, 64-d, {N_QUERIES} queries, top-{K}. Persisted",
        "at-ingest layouts (built once, excluded from query timing); the",
        "sequential column runs one job per query over that query's probe",
        "partitions, the batch column runs ONE scan of the union of all",
        "probe sets with map-side per-query probe filters. Rows asserted",
        "identical — the speedup is pure job-overhead + scan-sharing.",
        "",
        "| index | sequential (16 jobs) s | batch (1 scan) s | speedup | rows equal |",
        "|---|---|---|---|---|",
    ]

    # ---- IVF (64 centroids, nprobe 8) ------------------------------------
    ivf_path = "/tmp/stress_ivf_layout"
    assigned, centroids = ann.ivf_index(emb, n_centroids=64)
    ann.ivf_write_partitioned(assigned, ivf_path)

    t0 = time.perf_counter()
    seq_rows = set()
    for qid, qv in queries:
        for r in ann.ivf_knn(
            spark.read.parquet(ivf_path), centroids, qv, k=K, nprobe=8,
            payload_cols=(),
        ).collect():
            seq_rows.add((qid, r["vec_id"], r["score"]))
    t_seq = time.perf_counter() - t0

    layout = spark.read.parquet(ivf_path)
    t0 = time.perf_counter()
    batch_rows = {
        (r["qid"], r["vec_id"], r["score"])
        for r in ann.ivf_knn_batch(
            layout, centroids, queries, k=K, nprobe=8
        ).collect()
    }
    t_batch = time.perf_counter() - t0
    eq = batch_rows == seq_rows
    lines.append(
        f"| IVF 64c/np8 | {t_seq:.1f} | {t_batch:.1f} |"
        f" {t_seq / t_batch:.1f}x | {eq} |"
    )
    print(lines[-1])
    assert eq, "IVF batch diverged from sequential"

    # ---- IVF+PQ (64 cells / nprobe 8 / 8x16 codes / shortlist 200) --------
    books = ann.pq_train(emb)
    codes = ann.pq_encode(
        assigned.select("vec_id", "centroid_id", "embedding"),
        books,
        payload_cols=("centroid_id",),
    )
    pq_path = "/tmp/stress_ivfpq_layout"
    ann.ivf_write_partitioned(codes, pq_path)
    code_layout = spark.read.parquet(pq_path)

    t0 = time.perf_counter()
    seq_rows = set()
    for qid, qv in queries:
        for r in ann.ivfpq_knn(
            code_layout, centroids, books, emb, qv, k=K, nprobe=8,
            payload_cols=(),
        ).collect():
            seq_rows.add((qid, r["vec_id"], r["score"]))
    t_seq = time.perf_counter() - t0

    t0 = time.perf_counter()
    batch_rows = {
        (r["qid"], r["vec_id"], r["score"])
        for r in ann.ivfpq_knn_batch(
            code_layout, centroids, books, emb, queries, k=K, nprobe=8
        ).collect()
    }
    t_batch = time.perf_counter() - t0
    eq = batch_rows == seq_rows
    lines.append(
        f"| IVF+PQ 64c/np8/sl=auto | {t_seq:.1f} | {t_batch:.1f} |"
        f" {t_seq / t_batch:.1f}x | {eq} |"
    )
    print(lines[-1])
    assert eq, "IVF+PQ batch diverged from sequential"

    # ---- LSH (6 bits x LSH_TABLES tables, hamming-1 multiprobe) ----------
    lsh_path = "/tmp/stress_lsh_layout"
    dim = len(queries[0][1])
    ann.lsh_write_partitioned(emb, lsh_path, dim=dim)

    t0 = time.perf_counter()
    seq_rows = set()
    for qid, qv in queries:
        for r in ann.lsh_knn_pruned_df(
            spark.read.parquet(lsh_path), qv, k=K, payload_cols=()
        ).collect():
            seq_rows.add((qid, r["vec_id"], r["score"]))
    t_seq = time.perf_counter() - t0

    t0 = time.perf_counter()
    batch_rows = {
        (r["qid"], r["vec_id"], r["score"])
        for r in ann.lsh_knn_batch_df(
            spark.read.parquet(lsh_path), queries, k=K
        ).collect()
    }
    t_batch = time.perf_counter() - t0
    eq = batch_rows == seq_rows
    lines.append(
        f"| LSH 6b x {ann.LSH_TABLES}t | {t_seq:.1f} | {t_batch:.1f} |"
        f" {t_seq / t_batch:.1f}x | {eq} |"
    )
    print(lines[-1])
    assert eq, "LSH batch diverged from sequential"

    # ---- NSW persisted graph index (round-7 directive 4) ------------------
    # The r6 NSW batch number came from a FRESH fused build; this is the
    # production shape — the at-ingest layout (nsw_index_write), searched
    # sequentially (16 single-query calls, each re-scanning every bucket)
    # vs as ONE batch (one bucket pass beam-searches all 16 queries).
    nsw_path = "/tmp/stress_nsw_layout"
    t0 = time.perf_counter()
    ann.nsw_index_write(emb, nsw_path, n_buckets=64)
    t_nsw_build = time.perf_counter() - t0

    t0 = time.perf_counter()
    seq_rows = set()
    for qid, qv in queries:
        for r in ann.nsw_search_layout(
            spark.read.parquet(nsw_path), [(qid, qv)], k=K
        ).collect():
            seq_rows.add((r["qid"], r["vec_id"], r["score"]))
    t_seq = time.perf_counter() - t0

    t0 = time.perf_counter()
    batch_rows = {
        (r["qid"], r["vec_id"], r["score"])
        for r in ann.nsw_search_layout(
            spark.read.parquet(nsw_path), queries, k=K
        ).collect()
    }
    t_batch = time.perf_counter() - t0
    eq = batch_rows == seq_rows
    lines.append(
        f"| NSW 64 buckets, ef=auto, persisted "
        f"(one-time build+write {t_nsw_build:.0f}s) "
        f"| {t_seq:.1f} | {t_batch:.1f} | {t_seq / t_batch:.1f}x | {eq} |"
    )
    print(lines[-1])
    assert eq, "NSW batch diverged from sequential"

    # ---- clustered queries: where batch LSH WINS (round-7 directive 5) ---
    # 16 near-duplicate queries (tiny deterministic perturbations of one
    # corpus vector — a hot-query / dedup-probe workload): their probe
    # sets mostly coincide, so the batch union covers a small fraction of
    # the (table, sig) partitions and scan-sharing finally pays.
    base_qv = queries[0][1]
    clustered = [
        (
            10_000 + j,
            [x + 1e-4 * ((j * 7 + i) % 5 - 2) for i, x in enumerate(base_qv)],
        )
        for j in range(N_QUERIES)
    ]
    tables_, bits_ = ann.LSH_TABLES, ann.LSH_BITS
    def union_frac(qs):
        per_t: list[set] = [set() for _ in range(tables_)]
        for _, qv in qs:
            for t, ps in enumerate(
                ann._query_probes(qv, bits=bits_, tables=tables_, max_hamming=1)
            ):
                per_t[t].update(int(s) for s in ps)
        return sum(len(u) for u in per_t) / (tables_ * (1 << bits_))

    t0 = time.perf_counter()
    seq_rows = set()
    for qid, qv in clustered:
        for r in ann.lsh_knn_pruned_df(
            spark.read.parquet(lsh_path), qv, k=K, payload_cols=()
        ).collect():
            seq_rows.add((qid, r["vec_id"], r["score"]))
    t_seq = time.perf_counter() - t0

    t0 = time.perf_counter()
    batch_rows = {
        (r["qid"], r["vec_id"], r["score"])
        for r in ann.lsh_knn_batch_df(
            spark.read.parquet(lsh_path), clustered, k=K
        ).collect()
    }
    t_batch = time.perf_counter() - t0
    eq = batch_rows == seq_rows
    lines.append(
        f"| LSH 6b x {ann.LSH_TABLES}t, clustered queries "
        f"(probe union {union_frac(clustered):.0%} vs {union_frac(queries):.0%} uniform) "
        f"| {t_seq:.1f} | {t_batch:.1f} | {t_seq / t_batch:.1f}x | {eq} |"
    )
    print(lines[-1])
    assert eq, "clustered LSH batch diverged from sequential"

    lines += [
        "",
        'Every batch form equi-joins candidates to (query, probed bucket)',
        'broadcast rows — the first crossJoin+array_contains cut multiplied',
        'every scanned row by |queries| and measured SLOWER than sequential',
        'on LSH (0.9x); the equi-join fixed that. Where the wins come from:',
        "IVF's 16-query probe union covers ~a third of the 64 cells, so one",
        'shared scan beats 16 jobs ~2x. LSH at 16 UNIFORM queries (6 bits x',
        '8 tables, hamming-1 = 56 buckets/query) unions to ~82% of the 512',
        "partitions, so scan-sharing only offsets the 16 jobs' fixed",
        'overhead — parity-to-1.3x across runs; the clustered-query row',
        '(r7 directive 5) is the regime where batch LSH WINS: near-duplicate',
        'queries (the hot-query / dedup-probe workload) union to ~11% of the',
        'partitions and the batch runs ~2x faster, rows still identical. The',
        'NSW row (r7 directive 4) searches the persisted at-ingest graph',
        'layout (nsw_index_write, one-time build cost in the row label):',
        'sequential pays a full 64-bucket load + beam dispatch per query,',
        'the batch amortizes ONE bucket pass over all 16 beams — the largest',
        'batch win of the four families, and the shape search_auto_batch',
        'serves from a fresh NSW index (asserted at 900k points in the',
        'collection-lifecycle stress). No probe-union router fallback for',
        'LSH: after the equi-join fix the batch form never loses, so routing',
        'away from it buys nothing. The auto batch route keeps the recall',
        'order (nsw > lsh > ivf); the cost order is documented here for',
        'callers picking explicitly.',
    ]
    from tools.stress_common import update_section

    update_section("Batch index search at 1M rows", "\n".join(lines))
    print("updated STRESS.md section: Batch index search at 1M rows")


if __name__ == "__main__":
    main()
