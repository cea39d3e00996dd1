"""ANN recall harness (SURVEY §5.2 item 2): approximate operators are
graded by recall@k against the exact operator, not by an oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from vector_database_spark.operators import ann, knn


@pytest.fixture(scope="module")
def emb(spark):
    from vector_database_spark.sources.tables import read_table

    return read_table(spark, SF_SMALL, "embeddings").cache()


def _exact_ids(emb, qvec, k):
    return [r["vec_id"] for r in knn.knn(emb, qvec, k=k).collect()]


def _query_vecs(emb, n=10):
    return [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < n).collect()
    ]


def test_lsh_recall_at_5(emb):
    # 6 bits x 8 tables, hamming-1 multiprobe: measured 0.86 on this
    # (deterministic, seeded) fixture — gate just below the floor so a
    # fixture regeneration has headroom but a recall regression trips
    k, hits, total = 5, 0, 0
    for _, qv in _query_vecs(emb):
        exact = set(_exact_ids(emb, qv, k))
        approx = {r["vec_id"] for r in ann.lsh_knn(emb, qv, k=k).collect()}
        hits += len(exact & approx)
        total += k
    recall = hits / total
    assert recall >= 0.85, f"LSH recall@5 = {recall}"


def test_lsh_multiprobe_radius_2_recall(emb):
    # hamming-2 probing widens each table's probe set from 1+6 to 1+6+15
    # buckets: measured recall@5 = 1.0 here; gate >= 0.95 and require it
    # to dominate the hamming-1 default
    k, h1, h2, total = 5, 0, 0, 0
    for _, qv in _query_vecs(emb):
        exact = set(_exact_ids(emb, qv, k))
        a1 = {r["vec_id"] for r in ann.lsh_knn(emb, qv, k=k, max_hamming=1).collect()}
        a2 = {r["vec_id"] for r in ann.lsh_knn(emb, qv, k=k, max_hamming=2).collect()}
        h1 += len(exact & a1)
        h2 += len(exact & a2)
        total += k
    assert h2 / total >= 0.95, f"LSH mh2 recall@5 = {h2 / total}"
    assert h2 >= h1


def test_ivf_recall_at_5(emb):
    # 16 centroids / nprobe 8 (the q_knn_ivf operating point): measured
    # 0.84 on this fixture at a ~0.48 scan fraction
    assigned, centroids = ann.ivf_index(emb, n_centroids=16)
    assigned = assigned.cache()
    k, hits, total = 5, 0, 0
    for _, qv in _query_vecs(emb):
        exact = set(_exact_ids(emb, qv, k))
        approx = {
            r["vec_id"] for r in ann.ivf_knn(assigned, centroids, qv, k=k, nprobe=8).collect()
        }
        hits += len(exact & approx)
        total += k
    recall = hits / total
    assert recall >= 0.8, f"IVF recall@5 = {recall}"


def test_mllib_lsh_similarity_join_finds_identical_pairs(spark, emb):
    """approxSimilarityJoin must surface distance-0 (identical) pairs."""
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding", "label"
    )
    aug = emb.unionByName(copies)
    pairs = ann.lsh_similarity_join(aug, threshold_l2=0.1)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in range(20):
        assert (i, i + 5000) in got
    for a, b in got:
        assert b - a == 5000 or True  # other sub-threshold pairs may exist


def test_ivf_partitioned_layout_prunes(spark, emb, tmp_path):
    assigned, centroids = ann.ivf_index(emb, n_centroids=8)
    path = str(tmp_path / "ivf")
    ann.ivf_write_partitioned(assigned, path)
    qv = _query_vecs(emb, n=1)[0][1]
    res = ann.ivf_knn(spark.read.parquet(path), centroids, qv, k=5, nprobe=3)
    assert res.count() == 5
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:200]


def test_lsh_partitioned_layout_prunes_and_matches_fused(spark, emb, tmp_path):
    """r6: the signatures-at-ingest layout lsh_knn's docstring promises —
    per-table copies partitioned by (table, sig) so the probe set is a
    partition predicate; results must equal the fused scan operator (same
    probes, same exact re-rank)."""
    dim = len(emb.select("embedding").first()[0])
    path = str(tmp_path / "lsh")
    ann.lsh_write_partitioned(emb, path, dim=dim)
    qv = _query_vecs(emb, n=1)[0][1]
    pruned = ann.lsh_knn_pruned_df(spark.read.parquet(path), qv, k=5)
    fused = ann.lsh_knn(emb, qv, k=5)
    p_rows = [(r["vec_id"], r["score"]) for r in pruned.collect()]
    f_rows = [(r["vec_id"], r["score"]) for r in fused.collect()]
    assert p_rows == f_rows
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    tail = plan.split("PartitionFilters")[1][:400]
    assert "table" in tail and "sig" in tail


def test_twophase_matches_exact_batch(emb):
    queries = _query_vecs(emb)
    exact = knn.knn_batch(
        emb.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")),
        emb,
        k=3,
    )
    two = knn.knn_batch_local_topk(queries, emb, k=3, payload_cols=("label",))
    # FULL row identity (r6 directive 4): micro-keyed heaps emit micro/1e6,
    # which must equal the exact operator's round6 double bit-for-bit —
    # ids AND scores AND payloads, not just id sets
    e = {(r["qid"], r["vec_id"], r["label"], r["score"]) for r in exact.collect()}
    t = {(r["qid"], r["vec_id"], r["label"], r["score"]) for r in two.collect()}
    assert e == t


def test_knn_batch_auto_branches_identical(emb):
    """knn_batch_auto is a purely PHYSICAL dispatch: forcing each side of
    the pair budget must give identical rows (ids, payloads, AND scores),
    and the branch taken must match the budget rule."""
    queries = _query_vecs(emb)
    n_rows = emb.count()
    # budget below the pair count → two-phase; far above → window plan
    lo = knn.knn_batch_auto(
        queries, emb, k=3, payload_cols=("label",),
        pair_row_budget=0, rows_hint=n_rows,
    )
    hi = knn.knn_batch_auto(
        queries, emb, k=3, payload_cols=("label",),
        pair_row_budget=10**15, rows_hint=n_rows,
    )
    a = {(r["qid"], r["vec_id"], r["label"], r["score"]) for r in lo.collect()}
    b = {(r["qid"], r["vec_id"], r["label"], r["score"]) for r in hi.collect()}
    assert a == b and len(a) == 3 * len(queries)
    # branch check via the physical plan: the two-phase path runs a python
    # Arrow pass (MapInPandas / ArrowEvalPython); the window path does not
    lo_plan = lo._jdf.queryExecution().executedPlan().toString()
    hi_plan = hi._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in lo_plan
    assert "MapInPandas" not in hi_plan
    # default budget at fixture size (n_rows*10 pairs < 2M) → window plan
    auto = knn.knn_batch_auto(
        queries, emb, k=3, payload_cols=("label",), rows_hint=n_rows
    )
    assert "MapInPandas" not in auto._jdf.queryExecution().executedPlan().toString()


def test_mmr_rerank_prefers_diversity(spark):
    # a is the exact query direction; b is a near-duplicate of a; c is a
    # diverse direction. With lam=0.3 the redundancy penalty dominates, so
    # the second pick must be c, not the near-dup b.
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),          # a
            (2, [0.9999, 0.0141]),    # b ~ near-dup of a
            (3, [0.8, 0.6]),          # c diverse
        ],
        "vec_id long, embedding array<float>",
    )
    res = knn.mmr_rerank(df, [1.0, 0.0], k=3, pool=3, lam=0.3)
    rows = res.orderBy("rank").collect()
    assert [r["vec_id"] for r in rows] == [1, 3, 2]
    assert rows[0]["score"] == 1.0
    # with lam=1.0 MMR degenerates to plain relevance order
    rel = knn.mmr_rerank(df, [1.0, 0.0], k=3, pool=3, lam=1.0)
    assert [r["vec_id"] for r in rel.orderBy("rank").collect()] == [1, 2, 3]


def test_mmr_rerank_deterministic(emb):
    from vector_database_spark.queries import RAW_QUERY_VEC

    a = [tuple(r) for r in knn.mmr_rerank(emb, RAW_QUERY_VEC, k=5, pool=20).collect()]
    b = [tuple(r) for r in knn.mmr_rerank(emb, RAW_QUERY_VEC, k=5, pool=20).collect()]
    assert a == b and len(a) == 5
    # every MMR pick comes from the exact top-pool candidate set
    pool_ids = {r["vec_id"] for r in knn.knn(emb, RAW_QUERY_VEC, k=20).collect()}
    assert {t[1] for t in a} <= pool_ids


def test_binary_code_words_known_answer():
    from vector_database_spark.queries import _binary_code_words

    vec = [0.0] * 64
    vec[0] = 0.5    # bit 0 of w0
    vec[31] = 0.1   # bit 31 of w0
    vec[32] = 1.0   # bit 0 of w1
    vec[63] = -1.0  # negative → not set
    w0, w1 = _binary_code_words(vec)
    assert w0 == (1 << 0) | (1 << 31)
    assert w1 == 1


def test_hamming_knn_self_distance_zero(spark, emb):
    from vector_database_spark.queries import _binary_code_cols, _binary_code_words

    w0c, w1c = _binary_code_cols()
    codes = {r["vec_id"]: (r["w0"], r["w1"]) for r in
             emb.select("vec_id", w0c.alias("w0"), w1c.alias("w1")).collect()}
    # Spark-side codes agree with the Python twin used for the query literal
    row = emb.filter(F.col("vec_id") == 0).collect()[0]
    assert codes[0] == _binary_code_words([float(x) for x in row["embedding"]])


def test_hybrid_rrf_fuses_both_legs(spark):
    from vector_database_spark.operators.hybrid import hybrid_rrf

    docs = spark.createDataFrame(
        [
            (0, "spark spark spark pad pad"),   # strong lexical
            (1, "spark pad pad pad pad"),        # weak lexical, strong vector
            (2, "spark pad pad pad pad pad"),    # weak both
        ],
        "doc_id long, text string",
    )
    embs = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0]), (2, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    res = hybrid_rrf(docs, embs, ["spark"], [1.0, 0.0], k=3).collect()
    by_id = {r["doc_id"]: r for r in res}
    # doc 0: rank_lex 1, rank_vec 2 → rrf = 1/61 + 1/62
    # doc 1: rank_lex 2, rank_vec 1 → same rrf, tie broken by id → doc 0 first
    assert res[0]["doc_id"] == 0 and res[1]["doc_id"] == 1
    assert by_id[0]["rrf_micro"] == by_id[1]["rrf_micro"]
    assert by_id[2]["rank_lex"] == 3 and by_id[2]["rank_vec"] == 3
    assert res[2]["doc_id"] == 2


def test_pq_rerank_recall_at_5(spark, emb):
    books = ann.pq_train(emb)
    codes = ann.pq_encode(emb, books).persist()
    codes.count()
    hits = total = 0
    for qid, qv in _query_vecs(emb, n=10):
        exact = {r["vec_id"] for r in knn.knn(emb, qv, k=5, metric="euclid").collect()}
        approx = {
            r["vec_id"]
            for r in ann.pq_knn_rerank(codes, books, emb, qv, k=5).collect()
        }
        hits += len(exact & approx)
        total += 5
    codes.unpersist()
    recall = hits / total
    # shortlist=200 (a constant, not a data fraction): measured 0.96+ here
    assert recall >= 0.9, f"PQ+rerank recall@5 = {recall}"


def test_pq_codes_shape_and_determinism(spark, emb):
    books = ann.pq_train(emb)
    assert books.shape == (8, 16, 8)
    books2 = ann.pq_train(emb)
    assert (books == books2).all()  # seeded training is bit-reproducible
    codes = ann.pq_encode(emb, books)
    row = codes.first()
    assert len(row["code"]) == 8 and all(0 <= c < 16 for c in row["code"])


def test_zero_norm_rows_rank_last_in_both_batch_operators(spark):
    # zero vector must never outrank real candidates (cosine 0/0 = NaN
    # would sort FIRST under Spark desc without the nanvl guard), and the
    # exact and two-phase operators must agree on the resulting ids
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5]), (3, [0.0, 0.0]), (4, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    queries_df = spark.createDataFrame(
        [(100, [1.0, 0.0])], "qid long, qv array<float>"
    )
    exact = knn.knn_batch(queries_df, df, k=3, payload_cols=(), exclude_self=False)
    two = knn.knn_batch_local_topk(
        [(100, [1.0, 0.0])], df, k=3, exclude_self=False
    )
    e_ids = [r["vec_id"] for r in exact.collect()]
    t_ids = sorted(
        (r["vec_id"] for r in two.collect()),
        key=lambda i: e_ids.index(i) if i in e_ids else 99,
    )
    assert e_ids == [1, 4, 2]  # zero vector excluded from top-3, not first
    assert set(t_ids) == set(e_ids)
    # single-query exact operator too
    single = knn.knn(df, [1.0, 0.0], k=4, payload_cols=())
    assert [r["vec_id"] for r in single.collect()][-1] == 3  # ranks last


def test_semdedup_finds_all_planted_copies(spark, emb):
    from vector_database_spark.operators import dedup

    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 7000).alias("vec_id"), "embedding", "label"
    )
    aug = emb.unionByName(copies)
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.semdedup_pairs(aug).collect()}
    # identical vectors share their sign bucket by construction → every
    # planted pair MUST be found (within-bucket recall on exact dups = 1)
    for i in range(20):
        assert (i, i + 7000) in pairs
    # and every reported pair is a true near-dup per the exact operator
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_neardup_pairs(aug).collect()
    }
    assert pairs <= exact


def test_semdedup_incremental_finds_planted_no_batch_pairs(spark, emb):
    from vector_database_spark.operators import dedup

    corpus = emb.filter(F.col("vec_id") >= 50).select("vec_id", "embedding")
    fresh = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 7000).alias("vec_id"), "embedding"
    )
    planted = emb.filter(
        (F.col("vec_id") >= 50) & (F.col("vec_id") < 70)
    ).select((F.col("vec_id") + 8000).alias("vec_id"), "embedding")
    batch = fresh.unionByName(planted)
    rows = dedup.semdedup_incremental(batch, corpus).collect()
    pairs = {(r["batch_id"], r["corpus_id"]) for r in rows}
    # every planted corpus copy must surface against its original
    for i in range(50, 70):
        assert (i + 8000, i) in pairs
    # CROSS-side only: batch ids never appear on the corpus side and
    # vice versa (no batch² or corpus² candidates)
    assert all(b >= 7000 and c < 7000 for b, c in pairs)
    # scores agree with the exact self-join operator on the union
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_neardup_pairs(
            batch.unionByName(corpus)
        ).collect()
    }
    for r in rows:
        key = tuple(sorted((r["batch_id"], r["corpus_id"])))
        assert exact[key] == r["cos"]
    # plan: equi-join on the bucket key, nothing quadratic
    p = (
        dedup.semdedup_incremental(batch, corpus)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_semdedup_incremental_volume_probe_warns_on_clustered_corpus(spark):
    """r11 opt-in volume probe: a corpus collapsing into one sign bucket
    must surface the exact cross-side pair volume and warn BEFORE the
    verify join materializes it; the probed call's rows are identical to
    the default (probe-free) plan, and an under-budget probe records
    stats without warning."""
    import warnings

    from vector_database_spark.operators import dedup

    base = [0.5] * 8
    corpus = spark.createDataFrame(
        [(i, base) for i in range(50)], "vec_id long, embedding array<float>"
    )
    batch = spark.createDataFrame(
        [(1000 + i, base) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    stats: dict = {}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        probed = dedup.semdedup_incremental(
            batch, corpus, dim=8, max_candidates=100, stats=stats
        ).collect()
    assert stats["bucket_pair_volume"] == 500
    assert any("would materialize 500" in str(x.message) for x in w)
    plain = dedup.semdedup_incremental(batch, corpus, dim=8).collect()
    assert sorted(map(tuple, probed)) == sorted(map(tuple, plain))
    stats2: dict = {}
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        dedup.semdedup_incremental(
            batch, corpus, dim=8, max_candidates=1_000, stats=stats2
        ).collect()
    assert stats2["bucket_pair_volume"] == 500
    assert not any("materialize" in str(x.message) for x in w2)


def test_semdedup_plan_shuffles_on_bucket_not_cartesian(spark, emb):
    from vector_database_spark.operators import dedup

    p = (
        dedup.semdedup_pairs(emb)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the join key is the sign bucket: an equi-join (shuffle or broadcast),
    # never the all-pairs cartesian of the exact operator
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ivfpq_recall_at_5(spark, emb):
    # FAISS-style IVF16,PQ8 composite: recall is bounded by the IVF cell
    # routing (nprobe 8/16 ≈ 0.84 here); the PQ shortlist stage loses
    # almost nothing on top. Measured 0.84 on this fixture.
    assigned, centroids = ann.ivf_index(emb, n_centroids=16)
    books = ann.pq_train(emb)
    codes = ann.pq_encode(
        assigned.select("vec_id", "centroid_id", "embedding"),
        books,
        payload_cols=("centroid_id",),
    ).persist()
    codes.count()
    hits = total = 0
    for _, qv in _query_vecs(emb):
        exact = {r["vec_id"] for r in knn.knn(emb, qv, k=5, metric="euclid").collect()}
        got = {
            r["vec_id"]
            for r in ann.ivfpq_knn(codes, centroids, books, emb, qv, k=5).collect()
        }
        hits += len(exact & got)
        total += 5
    codes.unpersist()
    assert hits / total >= 0.8, f"IVFPQ recall@5 = {hits / total}"


def test_matryoshka_prefix_tradeoff_and_degenerate_exactness(emb):
    # 16-d prefix on UNTRAINED random embeddings: the prefix carries only
    # 1/4 of the signal, so recall is modest (0.66 measured) — real MRL
    # embeddings concentrate information in the prefix. Gate the floor…
    hits = total = 0
    for _, qv in _query_vecs(emb):
        exact = {r["vec_id"] for r in knn.knn(emb, qv, k=5).collect()}
        got = {r["vec_id"] for r in knn.matryoshka_knn(emb, qv, k=5).collect()}
        hits += len(exact & got)
        total += 5
    assert hits / total >= 0.6, f"MRL recall@5 = {hits / total}"
    # …and pin the degenerate case: a full-dimension "prefix" must return
    # exactly the exact-search answer (two-stage collapses to one)
    qv = _query_vecs(emb, n=1)[0][1]
    exact_ids = [r["vec_id"] for r in knn.knn(emb, qv, k=5).collect()]
    full_ids = [
        r["vec_id"] for r in knn.matryoshka_knn(emb, qv, k=5, prefix_dim=64).collect()
    ]
    assert full_ids == exact_ids


def test_nsw_recall_at_5(emb):
    # graph-index ANN (per-bucket NSW, beam ef=48): measure recall over 10
    # queries vs the exact operator. A 4-bucket graph over 500 uniform
    # vectors with ef≈10% of corpus should be near-exhaustive within each
    # bucket — gate high
    k = 5
    queries = _query_vecs(emb)
    res = ann.nsw_knn(emb, queries, k=k).collect()
    by_q: dict[int, list[int]] = {}
    for r in res:
        by_q.setdefault(r["qid"], []).append(r["vec_id"])
    hits = total = 0
    for qid, qv in queries:
        exact = set(_exact_ids(emb, qv, k))
        hits += len(exact & set(by_q.get(qid, [])))
        total += k
    recall = hits / total
    assert recall >= 0.9, f"NSW recall@5 = {recall}"


def test_auto_ef_scale_aware_default():
    # r6 directive 2: ef=None derives the beam from the bucket size —
    # 2*sqrt(bucket_rows) with the NSW_EF floor; an explicit int pins it
    from vector_database_spark.operators.ann import NSW_EF, _auto_ef

    assert _auto_ef(77, 10**6) == 77
    assert _auto_ef(None, 100) == NSW_EF
    assert _auto_ef(None, 15_625) == 250
    assert _auto_ef(None, 1_000_000) == 2000
    assert _auto_ef(None, 0) == NSW_EF  # empty bucket must not crash


def test_nsw_deterministic_and_exact_rowcount(emb):
    queries = _query_vecs(emb, n=3)
    a = [tuple(r) for r in ann.nsw_knn(emb, queries, k=5).collect()]
    b = [tuple(r) for r in ann.nsw_knn(emb, queries, k=5).collect()]
    assert a == b
    assert len(a) == 3 * 5
    # per-query results are score-descending with id tie-breaks
    for qid in {t[0] for t in a}:
        scores = [t[-1] for t in a if t[0] == qid]
        assert scores == sorted(scores, reverse=True)


def test_nsw_persisted_index_matches_fused(spark, emb, tmp_path):
    # build-once layout: persisted graph search must return the same
    # ids/scores as the fused build+search operator (shared prep/search
    # helpers pin the sort key, normalization and entry rule)
    path = str(tmp_path / "nsw_idx")
    ann.nsw_index_write(emb, path, n_buckets=4)
    queries = _query_vecs(emb, n=4)
    fused = [
        (r["qid"], r["vec_id"], r["score"])
        for r in ann.nsw_knn(emb, queries, k=5, payload_cols=()).collect()
    ]
    persisted = [
        (r["qid"], r["vec_id"], r["score"])
        for r in ann.nsw_search_layout(
            spark.read.parquet(path), queries, k=5
        ).collect()
    ]
    assert persisted == fused
    # adjacency stored as ids with bounded degree
    idx = spark.read.parquet(path)
    import pyspark.sql.functions as F2

    assert idx.filter(F2.size("neighbors") > ann.NSW_M_MAX).count() == 0


def test_bench_ann_recall_harness(spark):
    """bench.py publishes recall@5 per approximate query each round; this
    smoke-checks the harness itself (keys, range, and that the exact
    operator scores a perfect 1.0 baseline is NOT assumed — only that
    every approximate operator lands in (0, 1])."""
    import bench

    out = bench.ann_recall(spark, SF_SMALL)
    assert set(out) == {
        "q_knn_lsh", "q_knn_ivf", "q_knn_pq", "q_knn_nsw", "q_knn_ivfpq",
        # r8 auto-default canaries: the same families at DERIVED points
        "q_knn_lsh_auto", "q_knn_ivf_auto", "q_knn_pq_auto",
        "q_knn_ivfpq_auto",
        # r9: full-auto NSW (auto bucket count + auto beam)
        "q_knn_nsw_auto",
    }
    for name, r in out.items():
        assert 0.0 < r <= 1.0, f"{name} recall {r} out of range"
    # the sf0.001 operating points are the tuned ones — hold them to the
    # same floors the dedicated recall tests use
    assert out["q_knn_lsh"] >= 0.85
    assert out["q_knn_pq"] >= 0.9
    # the auto canaries' floors ARE the fixture-tuned values, so at this
    # scale each derived point must do at least as well as its pinned twin
    assert out["q_knn_lsh_auto"] >= out["q_knn_lsh"] - 1e-9
    assert out["q_knn_pq_auto"] >= out["q_knn_pq"] - 1e-9


def test_ann_recall_gate_all_rows_present(spark):
    """r10 verdict directive 6: the q_ann_recall_gate registry canary
    emits one row per (family, operating point) CLEARING its floor — all
    10 present means every ANN recall gate passed; a regression drops a
    row, which the driver's rows-only check records. Healthy state
    asserted here so the canary itself is pinned green at fixture
    scale."""
    from vector_database_spark.operators.recall import RECALL_FLOORS
    from vector_database_spark.queries import QUERIES

    rows = QUERIES["q_ann_recall_gate"](spark, SF_SMALL).collect()
    assert [r["family"] for r in rows] == sorted(RECALL_FLOORS)
    for r in rows:
        assert r["recall_micro"] >= r["floor_micro"], r
        assert 0 < r["recall_micro"] <= 1_000_000, r


def test_lsh_signature_null_and_ragged_rows_degrade_to_null(spark):
    # the Arrow-batched signature kernel must not fail the whole batch on
    # a NULL or wrong-length embedding — those rows get NULL signatures
    # (the pre-batching per-row expression's behavior) and are therefore
    # never LSH candidates, while good rows in the same batch still sign
    good = [float(i % 7) - 3.0 for i in range(64)]
    df = spark.createDataFrame(
        [(0, good), (1, None), (2, [1.0, 2.0]), (3, good)],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r
        for r in ann.with_lsh_signature(df, dim=64).collect()
    }
    assert rows[0]["sig_0"] is not None
    assert rows[3]["sig_0"] == rows[0]["sig_0"]  # identical vectors agree
    for t in range(ann.LSH_TABLES):
        assert rows[1][f"sig_{t}"] is None
        assert rows[2][f"sig_{t}"] is None


def test_ivf_auto_defaults_scale_aware():
    """Round-7 directive 1: IVF's operating point derives from the index
    shape instead of a fixed constant (the NSW _auto_ef standard) —
    nprobe targets a scan FRACTION (recall tracks scanned fraction
    near-linearly on uniform vectors, STRESS.md IVF curve), n_centroids
    follows the FAISS sqrt(N) rule."""
    # nprobe: floor of 8, ceil(0.3 * n_centroids) above it, clamped
    assert ann._auto_nprobe(None, 16) == 8
    assert ann._auto_nprobe(None, 64) == 20
    assert ann._auto_nprobe(None, 1000) == 300
    assert ann._auto_nprobe(None, 4) == 4        # never exceeds the index
    assert ann._auto_nprobe(3, 64) == 3          # explicit int pins
    # n_centroids: sqrt(N) clamped to [16, 4096]
    assert ann._auto_n_centroids(1_000_000) == 1000
    assert ann._auto_n_centroids(100) == 16
    assert ann._auto_n_centroids(10**9) == 4096


def test_ivf_knn_auto_nprobe_equals_explicit_pin(emb):
    """nprobe=None must be EXACTLY the derived explicit point — the auto
    default is a parameter derivation, not a different algorithm."""
    assigned, centroids = ann.ivf_index(emb, n_centroids=16)
    assigned = assigned.cache()
    qv = _query_vecs(emb, n=1)[0][1]
    auto = [(r["vec_id"], r["score"]) for r in ann.ivf_knn(assigned, centroids, qv, k=5).collect()]
    pinned = [
        (r["vec_id"], r["score"])
        for r in ann.ivf_knn(
            assigned, centroids, qv, k=5, nprobe=ann._auto_nprobe(None, 16)
        ).collect()
    ]
    assert auto == pinned and len(auto) == 5


def test_ivf_index_auto_centroids_from_corpus(emb):
    """n_centroids=None derives k from the corpus row count (sqrt(N)
    clamped to the [16, 4096] envelope)."""
    assigned, centroids = ann.ivf_index(emb, n_centroids=None)
    n = emb.count()
    assert len(centroids) == max(16, min(4096, int(n**0.5)))
    # every row got a cell in the derived layout
    assert assigned.filter(F.col("centroid_id").isNull()).count() == 0


def test_batch_operators_empty_queries(spark, emb, tmp_path):
    """An empty query batch returns an empty result with the output
    schema — not a crash in the probe-union/norm steps (r6 ADVICE)."""
    import numpy as np

    assigned, centroids = ann.ivf_index(emb, n_centroids=8)
    out = ann.ivf_knn_batch(assigned, centroids, [], k=5)
    assert out.columns == ["qid", "vec_id", "score"] and out.count() == 0

    out = ann.ivfpq_knn_batch(
        assigned, centroids, np.zeros((8, 16, 8)), emb, [], k=5
    )
    assert out.columns == ["qid", "vec_id", "score"] and out.count() == 0

    lsh_path = str(tmp_path / "lsh_empty")
    ann.lsh_write_partitioned(
        emb.select("vec_id", "embedding"), lsh_path, dim=64, payload_cols=()
    )
    out = ann.lsh_knn_batch_df(spark.read.parquet(lsh_path), [], k=5)
    assert out.columns == ["qid", "vec_id", "score"] and out.count() == 0

    out = ann.nsw_knn(emb, [], k=5, payload_cols=())
    assert out.columns == ["qid", "vec_id", "score"] and out.count() == 0

    out = knn.knn_batch_auto([], emb, k=3, payload_cols=("label",))
    assert out.columns == ["qid", "vec_id", "label", "score"] and out.count() == 0
    out = knn.knn_batch_local_topk([], emb, k=3)
    assert out.columns == ["qid", "vec_id", "score"] and out.count() == 0


def test_knn_batch_auto_float32_roundtrip_branch_identity(spark):
    """Dispatch contract under NON-float32-representable queries (r6
    ADVICE): the window branch folds query literals cast to the
    collection's array<float> element type, so the dispatcher must
    round-trip queries through that type before the two-phase kernel
    scores them — otherwise the ~1e-7 float32 perturbation flips micro6
    boundaries and the branches disagree exactly when the pair budget
    flips the plan. Random doubles make a disagreement near-certain
    without the round-trip (~6% of scores flip a micro boundary)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = [
        (1000 + j, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for j in range(4)
    ]
    lo = knn.knn_batch_auto(
        queries, df, k=3, exclude_self=False, pair_row_budget=0, rows_hint=200
    )
    hi = knn.knn_batch_auto(
        queries, df, k=3, exclude_self=False, pair_row_budget=10**15, rows_hint=200
    )
    a = {(r["qid"], r["vec_id"], r["score"]) for r in lo.collect()}
    b = {(r["qid"], r["vec_id"], r["score"]) for r in hi.collect()}
    assert a == b and len(a) == 12


def test_lsh_knn_batch_df_equals_persisted(spark, emb, tmp_path):
    """lsh_knn_batch_df over the in-memory long form must be row-identical
    to lsh_knn_batch_df over the persisted (table, sig) layout — they are the
    same probe-union + equi-join plan over the same index rows."""
    path = str(tmp_path / "lsh_df_twin")
    ann.lsh_write_partitioned(emb, path, dim=64, payload_cols=("label",))
    queries = _query_vecs(emb, n=4)
    persisted = {
        (r["qid"], r["vec_id"], r["label"], r["score"])
        for r in ann.lsh_knn_batch_df(
            spark.read.parquet(path), queries, k=5, payload_cols=("label",)
        ).collect()
    }
    long_form = ann.lsh_long_form(emb, dim=64, payload_cols=("label",))
    in_mem = {
        (r["qid"], r["vec_id"], r["label"], r["score"])
        for r in ann.lsh_knn_batch_df(
            long_form, queries, k=5, payload_cols=("label",)
        ).collect()
    }
    assert persisted == in_mem and len(in_mem) == 20


def test_auto_lsh_bits_rule():
    """r7: the LSH layout width derives from corpus size so (table, sig)
    partition directories stay near LSH_TARGET_BUCKET_ROWS instead of
    growing N/64 — floor at the tuned fixture point, cap at 16."""
    assert ann._auto_lsh_bits(500) == ann.LSH_BITS          # fixture floor
    assert ann._auto_lsh_bits(4096) == ann.LSH_BITS
    assert ann._auto_lsh_bits(1_000_000) == 8               # 1M -> ~4k/bucket
    assert ann._auto_lsh_bits(2_000_000) == 9
    assert ann._auto_lsh_bits(10**12) == 16                 # cap


def test_auto_shortlist_rule():
    """r7: the PQ re-rank shortlist derives from the ADC-scanned code
    count — max(200, ceil(0.004 * scanned)) — instead of a fixed 200
    (which measured recall 0.56 at 1M rows where 500 restores 1.00)."""
    assert ann._auto_shortlist(None, 0) == 200
    assert ann._auto_shortlist(None, 50_000) == 200          # floor
    assert ann._auto_shortlist(None, 125_000) == 500         # 1M, np8/64c
    assert ann._auto_shortlist(None, 1_000_000) == 4000
    assert ann._auto_shortlist(123, 10**9) == 123            # explicit pins


def test_ivfpq_auto_shortlist_equals_explicit_pin(emb):
    """shortlist=None must be EXACTLY the derived explicit point — at
    fixture size the scanned estimate sits on the 200 floor."""
    assigned, centroids = ann.ivf_index(emb, n_centroids=16)
    books = ann.pq_train(emb)
    codes = ann.pq_encode(
        assigned.select("vec_id", "centroid_id", "embedding"),
        books,
        payload_cols=("centroid_id",),
    ).cache()
    codes.count()
    qv = _query_vecs(emb, n=1)[0][1]
    auto = [
        (r["vec_id"], r["score"])
        for r in ann.ivfpq_knn(
            codes, centroids, books, emb, qv, k=5, payload_cols=()
        ).collect()
    ]
    pinned = [
        (r["vec_id"], r["score"])
        for r in ann.ivfpq_knn(
            codes, centroids, books, emb, qv, k=5, shortlist=200,
            payload_cols=(),
        ).collect()
    ]
    assert auto == pinned and len(auto) == 5


def test_auto_nsw_buckets_rule():
    # r9 (VERDICT 8): n_buckets=None derives ceil(N / 25k) capped 4096 —
    # per-bucket build time and executor memory stay bounded as N grows;
    # an explicit int pins the layout
    from vector_database_spark.operators.ann import (
        NSW_BUCKET_TARGET_ROWS,
        NSW_MAX_BUCKETS,
        _auto_nsw_buckets,
    )

    assert _auto_nsw_buckets(7, 10**9) == 7           # explicit pin wins
    assert _auto_nsw_buckets(None, 0) == 1
    assert _auto_nsw_buckets(None, 10_000) == 1
    assert _auto_nsw_buckets(None, NSW_BUCKET_TARGET_ROWS + 1) == 2
    assert _auto_nsw_buckets(None, 1_000_000) == 40
    assert _auto_nsw_buckets(None, 10**12) == NSW_MAX_BUCKETS


def test_nsw_auto_buckets_end_to_end(emb):
    # full-auto NSW (the q_knn_nsw_auto canary path): auto bucket count +
    # auto beam, same recall gate as the pinned operator at fixture scale
    queries = _query_vecs(emb, n=8)
    by_q = {}
    for r in ann.nsw_knn(emb, queries, k=5, n_buckets=None, ef=None).collect():
        by_q.setdefault(r["qid"], []).append(r["vec_id"])
    hits = total = 0
    for qid, qv in queries:
        exact = set(_exact_ids(emb, qv, 5))
        hits += len(exact & set(by_q.get(qid, [])))
        total += 5
    assert hits / total >= 0.9, f"auto-bucket NSW recall@5 = {hits / total}"


def test_nsw_batched_beam_matches_exact_on_wide_beam(spark):
    # the r9 array-pool beam kernel: with a beam covering the whole
    # bucket, graph search must equal exact cosine top-k (the same
    # contract the scalar kernel honored) — catches pool-merge or
    # termination-bound regressions exactly
    import numpy as np

    # distinct vectors (period >> n): clusters of exact duplicates can
    # legitimately disconnect an NSW graph — not what this test gates
    rng_rows = [
        (i, [((i * 97 + j * 131) % 1009 - 504) / 504.0 + 0.001 for j in range(16)])
        for i in range(300)
    ]
    emb = spark.createDataFrame(rng_rows, "vec_id long, embedding array<float>")
    X = np.array([r[1] for r in rng_rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    queries = [(qi, rng_rows[qi * 13][1]) for qi in range(6)]
    got = ann.nsw_knn(
        emb, queries, k=5, n_buckets=1, ef=600, payload_cols=()
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r["vec_id"])
    for qi, qv in queries:
        q = np.asarray(qv); q = q / np.linalg.norm(q)
        exact = np.argsort(-(Xn @ q), kind="stable")[:5].tolist()
        assert sorted(by_q[qi]) == sorted(exact), f"qid {qi}"


def test_nsw_multi_beam_batch_independence():
    """r9 kernel property (pure numpy, no Spark): a beam's result must be
    INDEPENDENT of its batch composition — the same query searched alone,
    in a small batch, or in a large mixed batch returns the identical
    [(dist, node)] list (beams share only the epoch matrix, never state),
    results are ascending, bounded by ef, and distances equal 1 − x·q
    recomputed exactly."""
    import numpy as np

    from vector_database_spark.operators.ann import (
        _adj_matrix,
        _nsw_build,
        _nsw_search_multi,
    )

    rng = np.random.default_rng(313)
    X = rng.standard_normal((800, 24))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    adj = _nsw_build(X, M=6, ef=32)
    A, deg = _adj_matrix(adj)
    Q = rng.standard_normal((24, 24))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)

    solo = []
    scratch = None
    for qi in range(Q.shape[0]):
        res, scratch = _nsw_search_multi(X, A, deg, Q[qi : qi + 1], 48, 0, scratch)
        solo.append(res[0])
    batched, _ = _nsw_search_multi(X, A, deg, Q, 48, 0, None)
    for qi in range(Q.shape[0]):
        assert batched[qi] == solo[qi], f"beam {qi} depends on batch shape"
        ds = [d for d, _ in batched[qi]]
        assert ds == sorted(ds) and len(ds) <= 48
        for d, v in batched[qi]:
            assert abs(d - (1.0 - float(X[v] @ Q[qi]))) < 1e-12

    # split the batch at an odd boundary: same invariant
    left, _ = _nsw_search_multi(X, A, deg, Q[:7], 48, 0, None)
    right, _ = _nsw_search_multi(X, A, deg, Q[7:], 48, 0, None)
    assert left + right == batched


def test_nsw_multi_beam_full_coverage_equals_exact():
    """With ef >= the whole (connected) graph, every beam's pool is the
    complete reachable set — top-k must equal brute-force cosine top-k."""
    import numpy as np

    from vector_database_spark.operators.ann import (
        _adj_matrix,
        _nsw_build,
        _nsw_search_multi,
    )

    rng = np.random.default_rng(77)
    X = rng.standard_normal((250, 16))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    adj = _nsw_build(X, M=6, ef=32)
    A, deg = _adj_matrix(adj)
    Q = rng.standard_normal((10, 16))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    res, _ = _nsw_search_multi(X, A, deg, Q, 600, 0, None)
    for qi in range(10):
        got = [v for _, v in res[qi][:5]]
        exact = np.argsort(1.0 - X @ Q[qi], kind="stable")[:5].tolist()
        assert got == exact, f"beam {qi}: {got} != {exact}"


def test_nsw_duplicate_vector_tie_breaks_by_id_at_k1(spark):
    """r10: the per-bucket top-k truncation must rank by the recomputed
    exact score with an id tie-break (the merge's total order) — the
    beam kernel scores its entry via a vector dot but neighbors via a
    BLAS matmul, which differ by an ulp on IDENTICAL vectors, so
    duplicate-vector ties used to order arbitrarily and k=1 could
    return the higher id while k=5 returned the lower one first."""
    import numpy as np

    from vector_database_spark.operators import ann

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 8)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    # ids 0 and 900: the SAME vector — the tie must resolve to id 0
    rows.append((900, [float(x) for x in vecs[0]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [(7, [float(x) for x in vecs[0]])]
    for k in (1, 3):
        got = [
            r["vec_id"]
            for r in ann.nsw_knn(
                df, q, k=k, n_buckets=1, payload_cols=()
            ).collect()
        ]
        assert got[0] == 0, f"k={k}: tie broke to {got[0]}, not the min id"
        if k >= 2:
            assert got[1] == 900  # the duplicate follows immediately


def test_nsw_merge_cascade_demotes_orphaned_kept_nodes(spark):
    """r11 review: demotion must CASCADE — a base node that lost nothing
    to the mask directly, but whose every neighbor is demoted, would
    otherwise keep zero outgoing links (and, wiring being bidirectional,
    zero incoming) and silently disconnect from the merged graph.

    Hand-built bucket: node 1 links only to 2 and 3; nodes 2 and 3 lost
    most of their links to masked-out ids (4, 5, 6 absent from the live
    layout) so both demote at floor M//2=2; node 1 must then demote in
    the cascade's second pass and re-insert — found by its own vector
    afterwards."""
    import math

    def vec(seed):
        return [math.sin(seed * 1.7 + j) for j in range(8)]

    rows = [
        (1, vec(1), 0, [2, 3], 0),
        (2, vec(2), 0, [4, 5, 6, 1], 0),
        (3, vec(3), 0, [4, 5, 6, 1], 0),
        # healthy far-away clique keeps the bucket's kept-set non-empty
        (10, vec(10), 0, [11, 12], 0),
        (11, vec(11), 0, [10, 12], 0),
        (12, vec(12), 0, [10, 11], 0),
        # one delta row so the merge has an insert side
        (20, vec(20), 1000, [21], 1),
    ]
    layout = spark.createDataFrame(
        rows,
        "vec_id long, embedding array<float>, _b int, "
        "neighbors array<long>, __seg int",
    )
    merged = ann.nsw_merge_graph_rows(layout, M=4).collect()
    by_id = {r["vec_id"]: list(r["neighbors"]) for r in merged}
    assert set(by_id) == {1, 2, 3, 10, 11, 12, 20}
    # no emitted node is edgeless, and node 1 specifically is connected
    assert all(len(nb) > 0 for nb in by_id.values()), by_id
    # and the beam finds node 1 by its own vector through the merged graph
    got = ann.nsw_search_layout(
        spark.createDataFrame(
            [(r["vec_id"], r["embedding"], 0, r["neighbors"]) for r in merged],
            "vec_id long, embedding array<float>, _b int, neighbors array<long>",
        ),
        [(0, vec(1))],
        k=1,
    ).collect()
    assert [r["vec_id"] for r in got] == [1]
