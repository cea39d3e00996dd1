"""The three workloads. Each is a single closed-loop client: it sends its
next call only after the previous one returned.

A workload supplies ``prepare()`` (untimed warm-up plus any one-time
set-up), ``setup()`` (one set-up repetition, returning the state a pass
runs on; the harness repeats it and reports the median) and ``run_pass(state,
seconds, rec)`` (the timed pass). It talks to the library only through
``Catalog``, ``VectorCollection`` and ``operators.*``.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

from perfbench import checks, gen
from perfbench.checks import expect
from perfbench.trace import FAILED, Recorder

K = 5
BATCH = 1000  # points per upsert, the reference client's batch size
POINT_SCHEMA = "id bigint, embedding array<float>, payload map<string,string>"
MAX_BITMASK_VOCAB = 4096  # operators/dedup.py: above it, verify takes the array path


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile; (None, None) below eleven samples."""
    n = len(xs)
    if n < 11:
        return None, None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n


def parquet_files(path: str) -> tuple[int, int]:
    """(file count, bytes) of the parquet files under ``path``."""
    n = size = 0
    for dp, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dp, f))
    return n, size


class Workload:
    # end_to_end() key -> the name a caller knows it by, for the run record
    NAMES: dict[str, str] = {}

    def __init__(self, spark, rng: np.random.Generator, work: str):
        from vector_database_spark import Catalog

        self.spark = spark
        self.rng = rng
        self.work = work
        self.catalog = Catalog(spark, os.path.join(work, "catalog"))
        self.made = 0

    def fresh_collection(self, tag: str):
        self.made += 1
        return self.catalog.create_collection(f"{tag}{self.made}", gen.DIM)

    def upsert(self, rec: Recorder, coll, pts: gen.Points, lo: int, hi: int, request=None):
        df = self.spark.createDataFrame(pts.rows(lo, hi), POINT_SCHEMA)
        return rec.call("catalog.upsert", coll.upsert, df, request=request)

    def named(self, rec: Recorder, out: dict) -> dict:
        """The caller-facing metrics of the run record: the renamed
        end-to-end ones plus the workload's extras (tails, and what
        end_to_end() does not report)."""
        e2e = self.end_to_end(rec, out)
        return {**{new: e2e[old] for old, new in self.NAMES.items()}, **self.extra(rec, out)}

    def extra(self, rec: Recorder, out: dict) -> dict:
        return {}

    def catalog_entry(self, coll) -> dict:
        with open(os.path.join(self.catalog.root, "_catalog.json")) as fh:
            return json.load(fh)[coll.info.name]


class Ingest(Workload):
    """Segments of ``STEPS`` steps, each on a fresh collection. A step
    upserts the next 1,000-point batch, then runs an exact top-5 search
    that must see it. The log grows by one version per step and never
    folds (ids are unique), so reads pay for the small files. Every segment
    replays the same batches, so a pass samples the same log lengths on
    every host, however many segments fit in it."""

    STEPS = 3

    def __init__(self, *a):
        super().__init__(*a)
        self.centres = gen.centres(self.rng)
        self.points = gen.clustered(self.rng, self.centres, self.STEPS * BATCH)
        self.queries = gen.queries(self.rng, self.centres, self.STEPS)
        expect(len(set(self.points.ids.tolist())) == len(self.points.ids), "ingest: ids not unique")

    def prepare(self, rec: Recorder) -> None:
        """One untimed segment, so that the cold start of the first upsert
        and search stays out of the timed pass."""
        self.segment(self.setup(rec), rec, self.new_out())

    def setup(self, rec: Recorder):
        return self.fresh_collection("ingest")

    @staticmethod
    def new_out() -> dict:
        return {"step_s": [], "files": [], "amplification": [], "compactions": 0, "fold_s": 0.0}

    def segment(self, coll, rec: Recorder, out: dict) -> None:
        folded_at = self.catalog_entry(coll).get("compacted_at", 0)
        for b in range(self.STEPS):
            req = len(out["step_s"])
            lo, hi = b * BATCH, (b + 1) * BATCH
            up = self.upsert(rec, coll, self.points, lo, hi, request=req)
            q = self.queries[b]
            res = rec.call("knn.search", lambda: coll.search(q, limit=K).collect(), request=req)
            out["step_s"].append(rec.latency["catalog.upsert"][-1] + rec.latency["knn.search"][-1])
            if rec.trace:
                rec.call("catalog.resolve", coll.count, request=req)
            files, size = parquet_files(coll.path)
            out["files"].append(files)
            out["amplification"].append(size / self.points.user_bytes(hi))
            if up is not FAILED:
                now = self.catalog_entry(coll).get("compacted_at", 0)
                if now != folded_at:
                    out["compactions"] += 1
                    out["fold_s"] += rec.latency["catalog.upsert"][-1]
                    folded_at = now
            if res is not FAILED:
                want = checks.topk(self.points.ids[:hi], self.points.vectors[:hi], q, K)
                got = [(r["id"], r["score"]) for r in res]
                checks.check_exact(got, want, f"search after batch {b}")
        out["user_bytes"] = self.points.user_bytes(self.STEPS * BATCH)
        out["bytes"] = parquet_files(coll.path)[1]

    def run_pass(self, coll, seconds: float, rec: Recorder) -> dict:
        """Whole segments until ``seconds`` have passed; at least one."""
        out = self.new_out()
        deadline = time.perf_counter() + seconds
        self.segment(coll, rec, out)
        while time.perf_counter() < deadline:
            self.segment(self.setup(rec), rec, out)
        return out

    def extra(self, rec: Recorder, out: dict) -> dict:
        up, se = rec.latency["catalog.upsert"], rec.latency["knn.search"]
        return {
            "upsert_p50_s": median(up), "upsert_tail_s": tail(up)[0],
            "search_p50_s": median(se), "search_tail_s": tail(se)[0],
            "space_amplification": median(out["amplification"]),
        }

    def layer_counts(self, out: dict) -> dict:
        return {
            "catalog.auto_compactions": out["compactions"], "catalog.compact.busy_s": out["fold_s"],
            "catalog.read.files": median(out["files"]),
            "catalog.bytes_on_disk": out["bytes"], "catalog.user_bytes": out["user_bytes"],
        }

    def end_to_end(self, rec: Recorder, out: dict) -> dict:
        return {
            "op_p50_s": median(out["step_s"]),
            "items_per_s": BATCH / median(rec.latency["catalog.upsert"]),
            # exact results are checked equal to numpy, so the ratio that can
            # move is storage: user bytes per byte on disk
            "quality": 1 / median(out["amplification"]),
        }


class Serve(Workload):
    """Read-only top-5 serving from an IVF index over a compacted
    collection: single-query ``search_auto`` calls interleaved with
    fixed-size ``search_auto_batch`` calls."""

    N_POINTS = 2000
    BATCH_QUERIES = 16
    SINGLES_PER_BATCH = 2
    N_QUERIES = 512  # pool cycled through by the pass
    NAMES = {"op_p50_s": "search_p50_s", "items_per_s": "batch_qps", "quality": "recall_at_5"}

    def __init__(self, *a):
        super().__init__(*a)
        self.centres = gen.centres(self.rng)
        self.points = gen.clustered(self.rng, self.centres, self.N_POINTS)
        self.queries = gen.queries(self.rng, self.centres, self.N_QUERIES)
        self.truth = [checks.topk(self.points.ids, self.points.vectors, q, K) for q in self.queries]

    def prepare(self, rec: Recorder) -> None:
        self.coll = self.fresh_collection("serve")
        self.upsert(rec, self.coll, self.points, 0, len(self.points.ids))
        rec.call("catalog.compact", self.coll.compact)
        entry = self.catalog_entry(self.coll)
        expect(entry.get("compacted_at") == entry["version"], "serve: collection not compacted before the index build")

    def setup(self, rec: Recorder):
        """Rebuild the IVF index, then run one cycle of queries on it. The
        first queries on a fresh index compile their plans and read its
        files cold; that belongs to set-up, not to the timed pass."""
        rec.call("ann.build", self.coll.build_ivf_index)
        self.cycle(self.coll, 0, rec, self.new_out(self.coll))
        return self.coll

    def batch_of(self, i: int) -> list[tuple[int, list[float]]]:
        n = len(self.queries)
        return [((i + j) % n, self.queries[(i + j) % n]) for j in range(self.BATCH_QUERIES)]

    def check(self, got: list[tuple[int, float]], qi: int, out: dict) -> None:
        q = self.queries[qi]
        checks.check_approx(got, self.points.ids, self.points.vectors, q, K, f"serve query {qi}")
        out["recall"].append(checks.recall([i for i, _ in got], [i for i, _ in self.truth[qi]]))

    def new_out(self, coll) -> dict:
        return {"recall": [], "exact_routes": 0, "cells": self.cells(coll)}

    def cycle(self, coll, qi: int, rec: Recorder, out: dict) -> int:
        """``SINGLES_PER_BATCH`` single queries, then one batch, starting at
        query ``qi`` of the pool; returns where the next cycle starts. A
        call's request id is the pool index of its first query."""
        for _ in range(self.SINGLES_PER_BATCH):
            q = self.queries[qi % len(self.queries)]
            if rec.trace and coll.route_for_search() == "exact":
                out["exact_routes"] += 1
            res = rec.call("ann.search", lambda: coll.search_auto(q, limit=K).collect(), request=qi)
            if res is not FAILED:
                self.check([(r["id"], r["score"]) for r in res], qi % len(self.queries), out)
            qi += 1
        batch = self.batch_of(qi)
        res = rec.call("ann.batch", lambda: coll.search_auto_batch(batch, limit=K).collect(), request=qi)
        if res is not FAILED:
            by_q: dict[int, list] = {}
            for r in sorted(res, key=lambda r: (r["qid"], -r["score"], r["id"])):
                by_q.setdefault(r["qid"], []).append((r["id"], r["score"]))
            expect(sorted(by_q) == sorted(i for i, _ in batch), "serve batch: missing queries")
            for i, got in by_q.items():
                self.check(got, i, out)
        return qi + self.BATCH_QUERIES

    def run_pass(self, coll, seconds: float, rec: Recorder) -> dict:
        out = self.new_out(coll)
        deadline = time.perf_counter() + seconds
        qi = 0
        while time.perf_counter() < deadline:
            qi = self.cycle(coll, qi, rec, out)
        return out

    def cells(self, coll) -> int:
        with open(os.path.join(coll.path + "__ivf", "_index_meta.json")) as fh:
            return len(json.load(fh)["centroids"])

    def extra(self, rec: Recorder, out: dict) -> dict:
        return {"search_tail_s": tail(rec.latency["ann.search"])[0]}

    def layer_counts(self, out: dict) -> dict:
        return {"ann.cells": out["cells"], "ann.route_exact_fallbacks": out["exact_routes"]}

    def end_to_end(self, rec: Recorder, out: dict) -> dict:
        return {
            "op_p50_s": median(rec.latency["ann.search"]),
            "items_per_s": self.BATCH_QUERIES / median(rec.latency["ann.batch"]),
            "quality": mean(out["recall"]),
        }


class Curate(Workload):
    """The LLM-data pass exact_dedup -> minhash_neardup_pairs_auto ->
    connected_components -> quality_score -> build_vocab, repeated on one
    Zipf corpus whose vocabulary is above the bitmask cap."""

    N_DOCS = 400
    N_NEARDUP = 40
    N_EXACT = 20
    MIN_PASSES = 3  # op_p50_s is a median over passes, never one or two
    NAMES = {"items_per_s": "docs_per_s", "quality": "dup_recall"}

    def __init__(self, *a):
        super().__init__(*a)
        self.corpus = gen.corpus(self.rng, self.N_DOCS, self.N_NEARDUP, self.N_EXACT)
        docs = self.corpus.docs
        self.want_quality = {i: checks.quality(d) for i, d in enumerate(docs)}
        self.want_vocab = checks.vocab(docs)
        expect(self.corpus.vocabulary() > MAX_BITMASK_VOCAB, f"curate: vocabulary {self.corpus.vocabulary()} <= {MAX_BITMASK_VOCAB}")
        expect(len(self.corpus.neardup_pairs) >= 1, "curate: no planted near-duplicate pairs")

    def setup(self, rec: Recorder):
        rows = list(enumerate(self.corpus.docs))
        self.made += 1
        path = os.path.join(self.work, f"corpus{self.made}")
        self.spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(path)
        return self.spark.read.parquet(path)

    def prepare(self, rec: Recorder) -> None:
        """One pass, so that the first call of each operator (JIT
        compilation, class loading) stays out of the timed pass."""
        self.curate_once(self.setup(rec), rec, None, {"pass_s": [], "recall": [], "stats": []})

    def curate_once(self, docs, rec: Recorder, request, out: dict) -> None:
        """One checked pass; appends its wall time (the sum of its operator
        calls) to ``out["pass_s"]``."""
        from vector_database_spark.operators import dedup, textanalysis, textops

        spent = []

        def call(name, fn):
            res = rec.call(name, fn, request=request)
            spent.append(rec.latency[name][-1])
            return res

        d = self.corpus.docs
        kept = call("dedup.exact", lambda: dedup.exact_dedup(docs).select("doc_id").collect())
        stats: dict = {}
        pairs = call("dedup.minhash", lambda: dedup.minhash_neardup_pairs_auto(docs, stats=stats).collect())
        comps = FAILED  # components need the pairs; skipped when they failed
        if pairs is not FAILED:
            pair_df = self.spark.createDataFrame([(r["id_a"], r["id_b"]) for r in pairs], "id_a bigint, id_b bigint")
            comps = call("dedup.components", lambda: dedup.connected_components(pair_df).collect())
        qual = call("textanalysis.quality", lambda: textanalysis.quality_score(docs).collect())
        voc = call("textops.vocab", lambda: textops.build_vocab(docs).orderBy("token_id").collect())
        out["pass_s"].append(sum(spent))
        if kept is not FAILED:
            checks.check_exact_dedup({r["doc_id"] for r in kept}, d)
        if pairs is not FAILED:
            triples = [(r["id_a"], r["id_b"], r["jaccard_micro"]) for r in pairs]
            checks.check_pairs(triples, d)
            found = {(a, b) for a, b, _ in triples}
            planted = self.corpus.neardup_pairs
            out["recall"].append(sum((min(s, c), max(s, c)) in found for s, c, _ in planted) / len(planted))
            out["stats"].append({**stats, "verified": len(triples)})
            if comps is not FAILED:
                got = {r["id"]: r["component"] for r in comps}
                expect(got == checks.components(triples), "connected_components: labels differ from union-find")
        if qual is not FAILED:
            got = {
                r["doc_id"]: (r["n_tokens"], r["n_stopwords"], r["stop_ratio_micro"], r["avg_token_len_micro"], r["quality_micro"])
                for r in qual
            }
            expect(got == self.want_quality, "quality_score: differs from the formula")
        if voc is not FAILED:
            expect([(r["token"], r["cnt"], r["token_id"]) for r in voc] == self.want_vocab, "build_vocab: differs")

    def run_pass(self, docs, seconds: float, rec: Recorder) -> dict:
        """Passes until ``seconds`` have passed; at least ``MIN_PASSES``."""
        out = {"pass_s": [], "recall": [], "stats": []}
        deadline = time.perf_counter() + seconds
        p = 0
        while p < self.MIN_PASSES or time.perf_counter() < deadline:
            self.curate_once(docs, rec, p, out)
            p += 1
        return out

    def layer_counts(self, out: dict) -> dict:
        if not out["stats"]:  # every MinHash call failed
            return {}
        st = out["stats"][-1]
        volume = st["volumes"][st["level"]]
        return {
            "dedup.ladder_level": st["level"], "dedup.candidate_volume": volume,
            "dedup.verified_pairs": st["verified"], "dedup.verify_yield": st["verified"] / volume if volume else 0.0,
        }

    def end_to_end(self, rec: Recorder, out: dict) -> dict:
        return {
            "op_p50_s": median(out["pass_s"]),
            "items_per_s": len(self.corpus.docs) / median(out["pass_s"]),
            "quality": mean(out["recall"]),
        }


WORKLOADS = {"ingest": Ingest, "serve": Serve, "curate": Curate}
