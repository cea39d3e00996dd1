#!/usr/bin/env python
"""Formatted physical plans (``df.explain("formatted")``) of registry
queries.

    python tools/dump_plans.py
        Regenerate plans/PLANS.md: the headline operators, each with a
        note on what its plan must exhibit to scale (SURVEY §4). Run after
        any plan-affecting change.

    python tools/dump_plans.py --tag TAG [--phase before|after] [query ...]
        Write plans/TAG/<query>_<phase>.txt for each named query (default:
        the PLANS.md operators), e.g. the before/after evidence of an
        optimization: run ``--phase before`` in a checkout of the parent
        commit and ``--phase after`` in the changed tree.

PLANS.md is built on the sf0.001 fixture; a --tag dump on
$SPARK_GRAFT_SF_DIR when set.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NOTES = {
    "q_knn_topk": (
        "Single-query exact k-NN. Wants: pruned scan (vec_id, label, embedding "
        "only), broadcast of the 1-row query side, TakeOrderedAndProject "
        "(per-partition heaps; no global sort)."
    ),
    "q_knn_batch": (
        "Batch k-NN. Wants: queries broadcast (collection scanned once, no "
        "big-side shuffle); the only exchange is the scored candidates on qid "
        "for the ranking window."
    ),
    "q_encode_lookup": (
        "Tokenizer encode. Wants: column-pruned documents scan, map-side "
        "partial count for the vocab, BroadcastHashJoin for the token->id "
        "lookup, one shuffle to reassemble sequences."
    ),
    "q_join_enrich": (
        "Star-schema enrichment. Wants: BroadcastHashJoin for every dim "
        "table, partial aggregation before the final exchange."
    ),
    "q_pricing_summary": (
        "TPC-H Q1 shape. Wants: predicate pushed to the parquet scan, "
        "two-phase HashAggregate (partial_ before the exchange)."
    ),
    "q_dedup_minhash": (
        "MinHash LSH dedup. Wants: signature aggregation computed once "
        "(persisted), band self-join, verify stage as BroadcastHashJoins "
        "against the doc->token-set map (candidate pairs never shuffle)."
    ),
    "q_range_join": (
        "Non-equi band join. Wants: BroadcastNestedLoopJoin with the 3-row "
        "band side broadcast — the big (part) side is never shuffled; "
        "map-side partial aggregation after."
    ),
    "q_hybrid_rrf": (
        "Hybrid RRF fusion. Wants: term-pruned BM25 candidate set, broadcast "
        "df/stats sides, embeddings joined only for candidates; rank windows "
        "run over the query-bounded candidate set, not the corpus."
    ),
    "q_hamming_knn": (
        "Binary-quantized ANN candidate stage. Wants: map-only code "
        "projection (no Exchange before the top-k) and TakeOrderedAndProject "
        "for the global top-5 — XOR+popcount per row, no index."
    ),
    "q_chunk_text": (
        "Context-window chunking. Wants: pushed doc_id filter, Generate "
        "(posexplode) with NO Exchange — a scan-speed map-only pass."
    ),
    "q_event_window": (
        "Tumbling-window agg. Wants: pruned scan, partial agg, single "
        "exchange on the (hour, event_type) keys."
    ),
    "q_maxsim_multivector": (
        "ColBERT MaxSim over multivectors. Wants: query token side broadcast "
        "(pairwise cos map-side), partial_max then partial_sum HashAggregates "
        "(both reductions combine before their exchange), final top-k "
        "TakeOrderedAndProject."
    ),
    "q_rescore_oversample": (
        "Quantized rescore with oversampling. Wants: two TakeOrderedAndProject "
        "phases (int8-dot candidates, exact rescore of k×4 rows), broadcast "
        "query side, no sort-merge join anywhere."
    ),
    "q_line_dedup": (
        "Boilerplate line removal. Wants: one exchange for the line-DF count, "
        "BroadcastHashJoin LeftAnti for the strip (corpus side never shuffles "
        "for membership), one exchange to reassemble docs."
    ),
    "q_substring_dedup": (
        "Exact-substring dedup (Lee et al. shape). Wants: two linear "
        "partial-agg shuffles only — window-hash min attribution, per-doc "
        "verdict; no cartesian/nested-loop anywhere."
    ),
    "q_prefetch_rerank": (
        "Multi-stage prefetch rerank. Wants: three TakeOrderedAndProject "
        "heaps (int8-dot leg, Hamming leg, exact rerank), broadcast query "
        "row, rerank touches only the ≤40-row candidate union."
    ),
    "q_bigram_logprob": (
        "Interpolated bigram LM. Wants: broadcast unigram lookups; the "
        "bigram-table join UN-hinted (AQE broadcasts while small, shuffle "
        "join when it outgrows the threshold at corpus scale)."
    ),
    "q_ship_priority": (
        "TPC-H Q3 star join. Wants: segment + both date predicates pushed "
        "to the scans, customer dim broadcast, map-side revenue partials, "
        "TakeOrderedAndProject top-10."
    ),
    "q_scd2_intervals": (
        "SCD2 intervals. Wants: ONE exchange on user_id reused by both "
        "window passes (lag change-detect + lead close) over the same "
        "(user_id, ts, event_id) sort."
    ),
    "q_retrieval_metrics": (
        "Retrieval eval (recall/MRR/nDCG), two-phase default since r5. "
        "Wants: both ranking legs from per-partition k-heaps (MapInPandas — "
        "the corpus never shuffles), only 2·k·P·|Q| candidate rows reach "
        "the tiny per-(query, leg) windows, partial aggs into the per-query "
        "rollup; the discount/reciprocal tables are literals, no extra joins."
    ),
    "q_hll_distinct": (
        "Sketch distinct rollup. Wants: partial_hll_sketch_agg map-side "
        "(constant ~KB state per group merging associatively), one small "
        "shuffle of |event_types| sketches, union-merge for the total row "
        "WITHOUT a second scan."
    ),
    "q_theta_overlap": (
        "Theta set algebra. Wants: one explode+partial_theta_sketch_agg "
        "pass per source; the union/intersection/difference all run on two "
        "~KB blobs after aggregation — corpus size never re-enters."
    ),
    "q_zorder_key": (
        "Z-order key. Wants: map-only (zero Exchange before the final "
        "order): the 2x10-shift Morton expression stays inside one "
        "WholeStageCodegen span over the pruned (event_id, user_id, ts) "
        "scan."
    ),
    "q_udaf_median": (
        "Grouped-agg pandas UDF. Wants: one exchange on label (grouped-agg "
        "UDFs cannot partial-aggregate — the documented trade vs built-in "
        "aggs), Arrow batches into Python once per group."
    ),
    "q_kmeans_clusters": (
        "Exact-integer k-means (final assignment plan; the 3 training "
        "rounds run eagerly at build). Wants: NO join — centroids are "
        "folded in as literals inside one WholeStageCodegen span; the only "
        "exchange is the presentation orderBy."
    ),
    "q_incremental_dedup": (
        "Batch-vs-corpus dedup. Wants: equi-joins only (band_key, then "
        "verify ids) — no cartesian; the doc-map sides broadcast at this "
        "scale; partial aggs for the per-doc verdict."
    ),
    "q_hard_negatives": (
        "Hard-negative mining. Wants: anchors broadcast over ONE corpus "
        "scan with the cross-label predicate applied map-side before "
        "scoring; the only exchange is the per-anchor rank window on qid."
    ),
}


def explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def dump_tagged(spark, queries, sf: str, tag: str, phase: str, names) -> None:
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            plan = explain(queries[name](spark, sf))
        path = os.path.join(out_dir, f"{name}_{phase}.txt")
        with open(path, "w") as fh:
            fh.write(
                f"# {name} — .explain('formatted') at {sf} ({phase})\n"
                "# Eager driver-side jobs (volume probes, broadcast sizing\n"
                "# counts) run at query-build time and are not in this plan.\n\n"
            )
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


def main() -> None:
    ap = argparse.ArgumentParser(description="Dump formatted physical plans of registry queries.")
    ap.add_argument("--tag", help="write plans/TAG/<query>_<phase>.txt instead of PLANS.md")
    ap.add_argument("--phase", default="after", help="file-name suffix with --tag")
    ap.add_argument("queries", nargs="*", help="query names (with --tag)")
    args = ap.parse_args()
    if args.queries and not args.tag:
        ap.error("query names need --tag")

    from vector_database_spark.queries import QUERIES
    from vector_database_spark.session import get_spark

    spark = get_spark("plans", cpus=8)
    sf = "/root/testdata/sf0.001"
    if args.tag:
        sf = os.environ.get("SPARK_GRAFT_SF_DIR", sf)
        dump_tagged(spark, QUERIES, sf, args.tag, args.phase, args.queries or list(NOTES))
        return
    out = [
        '# Physical plans — key operators (`df.explain("formatted")` @ sf0.001)',
        "",
        "Captured by `tools/dump_plans.py`; regenerate after plan-affecting changes.",
        "`tests/test_physical_plans.py` asserts the load-bearing properties; this file",
        "is the human-readable record of WHY each plan scales (SURVEY §4).",
        "",
    ]
    for name, note in NOTES.items():
        plan = explain(QUERIES[name](spark, sf))
        out.append(f"## {name}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    dest = os.path.join(REPO, "plans", "PLANS.md")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {dest}")


if __name__ == "__main__":
    main()
