#!/usr/bin/env python
"""Incremental index refresh vs full rebuild at 1M points (updates the
STRESS.md "Incremental index refresh at 1M points" section — r8
directive 4).

Lifecycle: 1M-point collection -> build LSH + IVF indexes -> one write
batch of 50k (25k brand-new ids + 25k updates) + 10k deletes ->
refresh_<kind>_index vs build_<kind>_index, wall clock side by side.
Semantics asserted, not assumed: after refresh, an updated probe id is
served its NEW vector, a deleted id is gone, and a full-coverage IVF
search equals the exact scan.

Usage: python tools/stress_refresh.py [n_points] [delta]
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
    delta = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    spark = get_spark("stress_refresh")
    root = tempfile.mkdtemp(prefix="vdbs_refresh_")
    lines = []
    try:
        cat = Catalog(spark, root)
        col = cat.create_collection("c", dim=DIM, auto_compact=False)
        t0 = time.perf_counter()
        col.upsert(synth_points(spark, 0, n))
        lines.append(f"- ingest {n:,} points: {time.perf_counter()-t0:.1f}s")

        t0 = time.perf_counter()
        col.build_lsh_index()
        t_lsh_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        col.build_ivf_index()
        t_ivf_build = time.perf_counter() - t0

        # the write batch: half new ids, half updates, plus deletes
        half = delta // 2
        col.upsert(
            synth_points(spark, n, n + half).unionByName(
                synth_points(spark, 0, half, bump=0.5)
            )
        )
        col.delete(point_ids=list(range(n - 10_000, n)))

        t0 = time.perf_counter()
        appended_lsh = col.refresh_lsh_index()
        t_lsh_refresh = time.perf_counter() - t0
        t0 = time.perf_counter()
        appended_ivf = col.refresh_ivf_index()
        t_ivf_refresh = time.perf_counter() - t0

        # semantics through the refreshed indexes
        qv = [
            float(x)
            for x in col.df()
            .filter(F.col("id") == 3)
            .collect()[0]["embedding"]
        ]
        top = [r["id"] for r in col.search_lsh(qv, limit=1).collect()]
        assert top == [3], f"updated id not served by refreshed LSH: {top}"
        meta_cells = len(col._fresh_meta("ivf", "probe")["centroids"])
        exact = [r["id"] for r in col.search(qv, limit=K).collect()]
        full = [
            r["id"]
            for r in col.search_ivf(qv, limit=K, nprobe=meta_cells).collect()
        ]
        assert full == exact, "full-coverage IVF != exact after refresh"
        deleted_probe = [
            r["id"]
            for r in col.search_lsh(
                [float(x) for x in synth_points(spark, n - 5, n - 4).collect()[0]["embedding"]],
                limit=10,
                max_hamming=2,
            ).collect()
        ]
        assert not set(deleted_probe) & set(range(n - 10_000, n)), "deleted id served"

        # search cost THROUGH the refreshed (segment + mask) layout —
        # the read-side tax of incremental maintenance, min-of-3
        def timed(fn):
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                fn().collect()
                best = min(best, time.perf_counter() - t0)
            return best

        s_lsh_refreshed = timed(lambda: col.search_lsh(qv, limit=K))
        s_ivf_refreshed = timed(lambda: col.search_ivf(qv, limit=K))

        # rebuild cost on the SAME post-write state, for the honest ratio
        t0 = time.perf_counter()
        col.build_lsh_index()
        t_lsh_rebuild = time.perf_counter() - t0
        t0 = time.perf_counter()
        col.build_ivf_index()
        t_ivf_rebuild = time.perf_counter() - t0

        s_lsh_rebuilt = timed(lambda: col.search_lsh(qv, limit=K))
        s_ivf_rebuilt = timed(lambda: col.search_ivf(qv, limit=K))

        # --- r9 directive 1: centroid drift -> optimize() escalation ----
        # a write batch from a SHIFTED distribution (bump 3.0 moves every
        # component ~1.5 cell-widths) refreshes into the pinned centroids,
        # the drift statistic crosses IVF_DRIFT_REBUILD_RATIO, and
        # optimize() escalates to a KMeans rebuild; recall of shifted
        # queries is recorded through the drifted index and after.
        shift_lo = n + half
        col.upsert(synth_points(spark, shift_lo, shift_lo + delta, bump=3.0))
        t0 = time.perf_counter()
        col.refresh_ivf_index()
        t_drift_refresh = time.perf_counter() - t0
        drift_ratio = col.index_status()["ivf"]["drift_ratio"]
        qrows = synth_points(spark, shift_lo + 1, shift_lo + 9, bump=3.0).collect()

        def ivf_recall():
            hits = 0
            for r in qrows:
                q2 = [float(x) for x in r["embedding"]]
                exact_ids = {x["id"] for x in col.search(q2, limit=K).collect()}
                got = {x["id"] for x in col.search_ivf(q2, limit=K).collect()}
                hits += len(exact_ids & got)
            return hits / (K * len(qrows))

        rec_drifted = ivf_recall()
        t0 = time.perf_counter()
        report = col.optimize()
        t_optimize = time.perf_counter() - t0
        assert report["ivf"] == "rebuilt_drift", report
        rec_recovered = ivf_recall()

        lines += [
            f"- build_lsh_index (auto bits): {t_lsh_build:.1f}s; "
            f"build_ivf_index (sqrt-N auto): {t_ivf_build:.1f}s",
            f"- write batch: {half:,} new + {half:,} updated + 10,000 deleted",
            f"- refresh_lsh_index: **{t_lsh_refresh:.1f}s** "
            f"({appended_lsh:,} segment rows incl. table copies) vs "
            f"rebuild {t_lsh_rebuild:.1f}s — "
            f"**{t_lsh_rebuild / max(t_lsh_refresh, 1e-9):.1f}x**",
            f"- refresh_ivf_index: **{t_ivf_refresh:.1f}s** "
            f"({appended_ivf:,} rows, pinned-centroid assignment) vs "
            f"rebuild {t_ivf_rebuild:.1f}s — "
            f"**{t_ivf_rebuild / max(t_ivf_refresh, 1e-9):.1f}x**",
            "- asserted through the refreshed indexes: updated id served its",
            "  NEW vector, deleted ids absent (hamming-2 probe), IVF at full",
            "  probe coverage equals the exact scan",
            f"- read-side tax of the segment+mask layout (search min-of-3): "
            f"lsh {s_lsh_refreshed:.2f}s refreshed vs {s_lsh_rebuilt:.2f}s "
            f"rebuilt; ivf {s_ivf_refreshed:.2f}s vs {s_ivf_rebuilt:.2f}s "
            f"(mask join is a size-gated broadcast over the superseded ids)",
            f"- centroid-drift escalation (r9): a {delta:,}-row SHIFTED batch "
            f"refreshed in {t_drift_refresh:.1f}s with drift ratio "
            f"**{drift_ratio:.1f}** (threshold 1.5); optimize() escalated "
            f"refresh->rebuild ('rebuilt_drift', {t_optimize:.1f}s incl. the "
            f"LSH refresh), shifted-query recall@5 {rec_drifted:.2f} through "
            f"the drifted index -> **{rec_recovered:.2f}** after the retrain "
            f"— on this fully-shifted fixture recall holds even drifted "
            f"(the shifted region concentrates in the few cells probe-"
            f"ranking visits first); what the escalation buys is the retrain "
            f"that re-subdivides those degenerate giant cells (scan cost) "
            f"and re-balances mixed-distribution neighborhoods. "
            f"index_status()['ivf']['drift_ratio'] is the monitoring hook",
            "",
            "The refresh cost scales with the WRITE BATCH (delta hashing /",
            "assignment + one segment append + a mask append), not the",
            "corpus — the rebuild re-scans and re-shuffles all N rows every",
            "time. At 100x the corpus the ratio widens by ~100x for the same",
            "batch size. Caveats: pinned IVF centroids drift from a shifting",
            "distribution — since r9 the drift is MEASURED (rows-weighted",
            "mean assignment distance of refreshed segments / build-time",
            "mean, persisted per segment) and optimize() escalates to a",
            "KMeans rebuild past 1.5x, so the rebuild cadence is now",
            "triggered by the data instead of guessed (the row above);",
            "LSH hyperplanes never depended on the data, but the",
            "layout WIDTH (bits) is pinned — since r9 optimize() checks",
            "_auto_lsh_bits(live) against an auto-built layout and escalates",
            "to 'rebuilt_width' when the collection outgrows it (pinned",
            "widths stay the caller's choice); the segment mask join adds",
            "one size-gated broadcast per search until the next rebuild",
            "folds segments.",
        ]
        update_section("Incremental index refresh at 1M points (r8)", "\n".join(lines))
        print("STRESS.md updated")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
