#!/usr/bin/env python
"""Scale-aware LSH operating points at 1M+ rows (appends to STRESS.md).

The multi-table LSH index has had one remaining FIXED layout knob:
bits=6 → 2^6 = 64 buckets per table regardless of corpus size, so bucket
row counts (and partition directory sizes in the at-ingest layout) grow
linearly with N. This probe measures the bucket-bounded alternative —
bits derived from a target bucket size, hamming radius derived from a
target per-table probe fraction — against the fixed default on the 1M-row
uniform corpus (worst case), recall vs exact and batch wall clock.

Usage: python tools/stress_lsh_auto.py
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vector_database_spark.operators import ann, knn  # noqa: E402
from vector_database_spark.session import get_spark  # noqa: E402
from tools.stress_knn import synth_embeddings  # noqa: E402
from tools.stress_common import update_section  # noqa: E402

N_ROWS = 1_000_000
K = 5
POINTS = [  # (bits, max_hamming, label)
    (6, 1, "fixed default"),
    (8, 1, "auto bits at 1M (sqrt-free: ceil(log2(N/4096)))"),
    (8, 2, "auto bits, escalated h"),
    (9, 1, "auto bits at 2M scale"),
    (9, 2, "auto bits at 2M scale, escalated h"),
]


def main() -> None:
    spark = get_spark("stress-lsh-auto")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    src = f"/tmp/stress_emb_{N_ROWS}"
    if not os.path.exists(src):
        synth_embeddings(spark, N_ROWS, sf_dir, src)
    emb = spark.read.parquet(src)
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .collect()
    ]
    truth = {}
    for qid, qv in queries:
        truth[qid] = {
            r["vec_id"] for r in knn.knn(emb, qv, k=K, payload_cols=()).collect()
        }

    lines = [
        f"{N_ROWS:,} uniform 64-d rows (ANN worst case), 8 tables, 16",
        "corpus-member queries, top-5 via one lsh_knn_batch_df scan of the",
        "persisted layout. `rows/bucket` is the at-ingest partition size —",
        "the quantity a FIXED bits lets grow without bound; `probe frac` =",
        "per-table probed buckets / 2^bits (sum_{i<=h} C(bits,i) / 2^bits).",
        "",
        "| bits | h | rows/bucket | probe frac/table | recall@5 | batch 16q s | note |",
        "|---|---|---|---|---|---|---|",
    ]
    for bits, h, label in POINTS:
        path = f"/tmp/stress_lsh_auto_{bits}"
        if not os.path.exists(path + "/_SUCCESS"):
            ann.lsh_write_partitioned(
                emb, path, dim=64, bits=bits, payload_cols=()
            )
        t0 = time.perf_counter()
        got: dict[int, set] = {}
        for r in ann.lsh_knn_batch_df(
            spark.read.parquet(path), queries, k=K, bits=bits, max_hamming=h
        ).collect():
            got.setdefault(r["qid"], set()).add(r["vec_id"])
        t = time.perf_counter() - t0
        recall = sum(len(truth[q] & got.get(q, set())) for q, _ in queries) / (
            K * len(queries)
        )
        probes = sum(math.comb(bits, i) for i in range(h + 1))
        lines.append(
            f"| {bits} | {h} | {N_ROWS // (1 << bits):,} "
            f"| {probes / (1 << bits):.2f} | {recall:.2f} | {t:.1f} | {label} |"
        )
        print(lines[-1], flush=True)

    lines += [
        "",
        "Reading (and why this differs from the 500-row round-3 sweep,",
        "where 8b/h1 scored 0.66): recall starvation from extra bits is a",
        "SMALL-CORPUS effect — when buckets hold only a handful of rows,",
        "splitting them orphans true neighbors. At 1M rows every probed",
        "bucket still holds thousands of candidates, so 8 OR'd tables at",
        "h=1 keep recall 1.00 on worst-case uniform data while scanning a",
        "quarter of what the 6-bit layout scans and keeping at-ingest",
        "partition directories near the 4k-row target (a 6-bit layout",
        "at 100 TB would put N/64 rows in every partition). bits=None",
        "therefore derives ceil(log2(N/4096)) clamped [6, 16] at build",
        "time (ann._auto_lsh_bits), the persisted index meta pins the",
        "chosen value for every later search, and max_hamming stays 1 —",
        "hamming escalation remains the per-query recall knob it always",
        "was, not a scale compensation.",
    ]
    update_section("Scale-aware LSH bits/hamming at 1M rows", "\n".join(lines))
    print("updated STRESS.md section: Scale-aware LSH bits/hamming at 1M rows")


if __name__ == "__main__":
    main()
