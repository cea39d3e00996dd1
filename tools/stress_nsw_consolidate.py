#!/usr/bin/env python
"""NSW segment CONSOLIDATION vs full rebuild at 1M points (updates the
STRESS.md "NSW consolidation vs rebuild at 1M points" section — r10
verdict directive 5).

The acceptance contract: at ~0.5 delta fraction (the escalation
threshold where optimize() used to answer with a full re-train — the
most expensive build of any family), consolidate_nsw_index() must cost
<50% of build_nsw_index() on the same state with recall@5 within 2
points. Consolidation keeps every healthy base node's adjacency and
re-inserts only the delta rows + mask-damaged nodes
(operators/ann.py::nsw_merge_graph_rows).

Usage: python tools/stress_nsw_consolidate.py [n_points]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vector_database_spark.catalog import Catalog  # noqa: E402
from vector_database_spark.session import get_spark  # noqa: E402
from tools.stress_common import update_section  # noqa: E402

DIM = 32
K = 5
N_QUERIES = 20


def synth_points(spark, lo, hi, bump: float = 0.0):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda j: (
                F.pmod(F.xxhash64(F.col("id"), j), F.lit(1009)).cast("double")
                / 504.0
                - 1.0
                + F.lit(bump)
            )
            + F.when(j == 0, 2.0).otherwise(0.0),
        ).alias("embedding"),
        F.create_map(F.lit("g"), (F.col("id") % 7).cast("string")).alias(
            "payload"
        ),
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark("stress_nsw_consolidate")
    root = tempfile.mkdtemp(prefix="vdbs_nswcons_")
    try:
        cat = Catalog(spark, root)
        col = cat.create_collection("c", dim=DIM, auto_compact=False)
        t0 = time.perf_counter()
        col.upsert(synth_points(spark, 0, n))
        t_ingest = time.perf_counter() - t0
        t0 = time.perf_counter()
        col.build_nsw_index()
        t_build = time.perf_counter() - t0

        # churn to the 0.5 escalation threshold in one refresh segment:
        # 25% new + 25% updated + 2% deleted of the base build
        q = n // 4
        col.upsert(
            synth_points(spark, n, n + q).unionByName(
                synth_points(spark, 0, q, bump=0.5)
            )
        )
        col.delete(point_ids=list(range(n - n // 50, n)))
        t0 = time.perf_counter()
        appended = col.refresh_nsw_index()
        t_refresh = time.perf_counter() - t0
        assert col._index_drift_exceeded("nsw"), "fixture must cross the threshold"

        queries = [
            (i, [float(x) for x in r["embedding"]])
            for i, r in enumerate(
                synth_points(spark, 137, 137 + N_QUERIES).collect()
            )
        ]
        exact = {}
        for qid, qv in queries:
            exact[qid] = {x["id"] for x in col.search(qv, limit=K).collect()}

        def nsw_recall():
            from vector_database_spark.operators import ann

            got: dict = {}
            res = ann.nsw_search_layout(
                col._read_masked_layout("nsw"), queries, k=K,
                id_col="id", emb_col="embedding",
            ).collect()
            for r in res:
                got.setdefault(r["qid"], set()).add(r["id"])
            hits = sum(len(exact[q] & got.get(q, set())) for q, _ in queries)
            return hits / (K * len(queries))

        rec_refreshed = nsw_recall()
        t0 = time.perf_counter()
        rows_cons = col.consolidate_nsw_index()
        t_cons = time.perf_counter() - t0
        rec_cons = nsw_recall()
        # rebuild the SAME live corpus from scratch for the honest
        # contrast (build reads col.df(); segment state is irrelevant)
        t0 = time.perf_counter()
        col.build_nsw_index()
        t_reb = time.perf_counter() - t0
        rec_reb = nsw_recall()

        # one-sided: consolidation may be BETTER than the rebuild (it
        # often is — re-inserted nodes link into a finished graph), it
        # just must not be worse by more than 2 points
        gap = max(0.0, rec_reb - rec_cons)
        frac = t_cons / max(t_reb, 1e-9)
        lines = [
            f"- {n:,} points ingested in {t_ingest:.1f}s; base "
            f"build_nsw_index (auto buckets) {t_build:.1f}s",
            f"- churn to the escalation threshold: {q:,} new + {q:,} "
            f"updated + {n//50:,} deleted (one refresh segment, "
            f"{appended:,} delta rows, {t_refresh:.1f}s; delta fraction "
            ">= 0.5 -> _index_drift_exceeded(\"nsw\") fires)",
            f"- consolidate_nsw_index: **{t_cons:.1f}s** "
            f"({rows_cons:,} rows merged) vs full rebuild {t_reb:.1f}s "
            f"— **{frac:.0%} of rebuild cost** (gate: <50%)",
            f"- recall@5 vs exact over {N_QUERIES} queries: refreshed "
            f"multi-segment {rec_refreshed:.3f} -> consolidated "
            f"**{rec_cons:.3f}** vs rebuilt {rec_reb:.3f} "
            f"(shortfall {gap:.3f} — gate: not worse than 2 points)",
            "- post-state is structurally a rebuild's: one __seg=0",
            "  layout over the base bucket range, masks deleted,",
            "  refresh_stats reset (the delta-fraction escalation",
            "  restarts from zero); optimize() reports 'consolidated'",
            "  on this path and falls back to the full rebuild only",
            "  when the merge cannot run.",
        ]
        for ln in lines:
            print(ln)
        assert frac < 0.5, f"consolidation cost {frac:.0%} of rebuild"
        assert gap <= 0.02, f"recall gap {gap:.3f} > 2 points"
        update_section(
            "NSW consolidation vs rebuild at 1M points (r11)",
            "\n".join(lines),
        )
        print("updated STRESS.md section: NSW consolidation vs rebuild")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
