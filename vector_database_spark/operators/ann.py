"""Approximate nearest neighbor (SURVEY B8) — the 100 TB scale path.

Qdrant answers k-NN with a server-side HNSW graph (compose.yaml:1-22,
outside the reference repo). A graph index doesn't map to Spark's
shared-nothing execution; the Spark-native equivalents are:

  1. Random-hyperplane LSH (signed projections → bit signature): bucket by
     signature prefix, search only the query's bucket(s), exact re-rank.
     Signatures are one Arrow-batched numpy matmul (48 dots/row IS a
     matmul — see with_lsh_signature); the candidate filter and the exact
     re-rank are codegen'd Catalyst expressions.
  2. IVF-style coarse quantization via MLlib KMeans: partition by nearest
     centroid, probe the closest `nprobe` centroids, exact re-rank inside.

Both trade recall for scan fraction; recall is measured against the exact
operator (tests/test_ann_recall.py). Approximate by design → rows-only
correctness check, no DuckDB oracle (SURVEY §5.2).
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_database_spark.functions.vector import cosine, round6

LSH_SEED = 42
LSH_BITS = 6
# 8 tables (was 4): recall@5 0.76 → 0.92 on the worst-case uniform-random
# fixture at a 0.60 scan fraction (clustered real data buckets far
# tighter). The recall-vs-scan curve is recorded in STRESS.md; the table
# count is the standard OR-construction recall lever.
LSH_TABLES = 8
# Scale-aware LAYOUT bits (round 7): a fixed bits=6 puts N/64 rows in
# every (table, sig) partition directory — unbounded growth. bits=None on
# the catalog's build_lsh_index derives ceil(log2(N / target)) so buckets
# stay near LSH_TARGET_BUCKET_ROWS; measured at 1M uniform rows the
# derived 8-bit layout holds recall@5 1.00 at h=1 while scanning a
# quarter of the 6-bit layout (STRESS.md "Scale-aware LSH bits/hamming").
# Recall starvation from extra bits is a small-corpus effect (the 500-row
# sweep's 0.66) — the LSH_BITS floor keeps fixtures on the tuned point.
# The chosen bits persist in the index meta, so probes always match the
# layout; hamming escalation stays the per-query recall knob.
LSH_TARGET_BUCKET_ROWS = 4096


def _auto_lsh_bits(n_rows: int) -> int:
    import math

    if n_rows <= LSH_TARGET_BUCKET_ROWS:
        return LSH_BITS
    return max(
        LSH_BITS, min(16, math.ceil(math.log2(n_rows / LSH_TARGET_BUCKET_ROWS)))
    )


def _hyperplanes(dim: int, bits: int, seed: int = LSH_SEED) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim)


# Scale-aware IVF defaults (round-7 directive 1, mirroring NSW's _auto_ef):
# a fixed nprobe constant is an operating point chosen for ONE corpus —
# recall@5 at 1M uniform rows was 0.69 at the old nprobe=8/64c default
# (STRESS.md IVF curve) because the scanned FRACTION, not the probe count,
# is what recall tracks (the curve is near-linear in scan fraction on
# uniform vectors, the ANN worst case). So the derived default targets a
# scan fraction: nprobe = max(floor, ceil(frac · n_centroids)), which holds
# recall@5 ≥ 0.85 on 1M uniform rows at the default 0.3 (measured row in
# the STRESS.md curve) and is ~10× past what clustered corpora need (they
# reach recall 1.00 at a 0.03 scan — pass an explicit nprobe to claim
# that). n_centroids defaults to the FAISS √N rule when the corpus size is
# known, clamped to [16, 4096]; KMeans then trains on a seeded sample of
# ≤ 256·k rows (the FAISS training-budget convention) so index build cost
# is bounded by the centroid count, not the corpus.
IVF_NPROBE_FLOOR = 8
IVF_TARGET_SCAN_FRAC = 0.3
IVF_TRAIN_ROWS_PER_CENTROID = 256


def _auto_nprobe(nprobe: int | None, n_centroids: int) -> int:
    import math

    if nprobe is not None:
        return nprobe
    return min(
        n_centroids,
        max(IVF_NPROBE_FLOOR, math.ceil(IVF_TARGET_SCAN_FRAC * n_centroids)),
    )


def _auto_n_centroids(n_rows: int) -> int:
    import math

    return max(16, min(4096, int(math.sqrt(max(n_rows, 1)))))


def with_lsh_signature(
    embeddings: DataFrame,
    dim: int = 64,
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
    emb_col: str = "embedding",
) -> DataFrame:
    """Materialize one signature column per LSH table (``sig_0..sig_{L-1}``).

    Done once at ingest at scale; the collection is then partitioned by
    ``sig_0`` (primary table) with the others as pruning columns.

    All ``tables*bits`` plane dots per row are ONE Arrow-batched numpy
    matmul (``E @ P.T``): this is 48 dot products per row — a matmul, not
    48 scalar expressions. The Catalyst alternatives both lose: HOF folds
    are CodegenFallback (per-element interpreted lambda dispatch dominated
    q_knn_lsh's wall time), and unrolling 48×64 multiply-adds into one
    projection overflows janino's 64 KB method limit (observed), which
    falls the whole stage back to interpreted eval. The batch kernel also
    uses the SAME arithmetic family as the query-side signature
    (np.dot, lsh_knn below), so row and probe signatures can never
    disagree on a sign that their shared math agrees on. Sign decisions
    at |dot| ≲ 1e-16 may differ from a sequential fold's — irrelevant for
    a recall-gated approximate index (measure-zero on real data).

    The UDF is extracted into a single ArrowEvalPython node; the eight
    ``sig_t`` gets read its one output attribute (no recompute).
    """
    from pyspark.sql.functions import pandas_udf

    planes = np.stack(
        [_hyperplanes(dim, bits, seed=LSH_SEED + t) for t in range(tables)]
    )  # (tables, bits, dim)
    flat_t = planes.reshape(tables * bits, dim).T.copy()  # (dim, tables*bits)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf("array<long>")
    def _sigs(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype=object)
        # NULL / wrong-length rows degrade to NULL signatures (matching the
        # pre-batching Catalyst expression's per-row behavior) instead of
        # failing the whole Arrow batch on np.asarray(None) / ragged stack
        zeros = np.zeros(dim, dtype=np.float64)
        ok = np.ones(len(embs), dtype=bool)
        vecs = []
        for i, v in enumerate(embs):
            a = None if v is None else np.asarray(v, dtype=np.float64)
            # non-finite guard: NULL *elements* arrive as NaN (Arrow list
            # nulls), pass the shape check, and (NaN > 0) == False would
            # yield a deterministic-but-meaningless signature — degrade to
            # a NULL signature like fully-NULL rows (round-5 ADVICE 3)
            if a is None or a.shape != (dim,) or not np.isfinite(a).all():
                ok[i] = False
                vecs.append(zeros)
            else:
                vecs.append(a)
        e = np.stack(vecs)
        bits_on = (e @ flat_t) > 0  # (n, tables*bits)
        sigs = bits_on.reshape(len(e), tables, bits).astype(np.int64) @ weights
        return pd.Series(
            [s if good else None for s, good in zip(sigs, ok)], dtype=object
        )

    out = embeddings.withColumn("__sigs", _sigs(F.col(emb_col)))
    for t in range(tables):
        out = out.withColumn(f"sig_{t}", F.get(F.col("__sigs"), t))
    return out.drop("__sigs")


def lsh_knn(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 5,
    bits: int | None = LSH_BITS,
    tables: int = LSH_TABLES,
    max_hamming: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Approximate top-k: candidate = row matching ANY table's query bucket
    (within ``max_hamming``), then exact cosine re-rank of candidates.

    Multi-table OR is the classic recall lever for random-hyperplane LSH
    (P[miss] = Π_t P[miss table t]); multiprobe (hamming-1 neighbors of the
    query bucket) recovers quantization-boundary losses cheaply. The whole
    candidate predicate is one codegen'd filter — a single scan, no joins;
    with signatures materialized at ingest it becomes partition pruning.

    ``bits=None`` derives the layout width from the corpus row count
    (:func:`_auto_lsh_bits`, one footer-cheap count) — the same scale-aware
    default the persisted-layout build uses (catalog.build_lsh_index);
    the benched q_knn_lsh_auto canary runs this path so an edit to the
    formula shifts a driver-visible recall number, not just a property
    test (r8 directive 1).
    """
    if bits is None:
        bits = _auto_lsh_bits(embeddings.count())
    dim = len(query_vector)
    tagged = with_lsh_signature(embeddings, dim=dim, bits=bits, tables=tables, emb_col=emb_col)
    pred = None
    for t, probes in enumerate(
        _query_probes(query_vector, bits=bits, tables=tables, max_hamming=max_hamming)
    ):
        term = F.col(f"sig_{t}").isin(probes)
        pred = term if pred is None else (pred | term)
    cands = tagged.filter(pred)
    q = F.array(*[F.lit(float(x)) for x in query_vector]).cast("array<double>")
    scored = cands.select(
        id_col, *payload_cols, round6(cosine(F.col(emb_col), q)).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def _query_probes(
    query_vector: list[float],
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
    max_hamming: int = 1,
) -> list[list[int]]:
    """Per-table probe buckets for one query: the query's signature plus
    its multiprobe Hamming neighborhood (shared by the fused scan filter
    and the persisted-layout partition predicate)."""
    dim = len(query_vector)
    out = []
    for t in range(tables):
        planes = _hyperplanes(dim, bits, seed=LSH_SEED + t)
        qsig = int(
            sum((1 << j) for j, p in enumerate(planes) if float(np.dot(p, query_vector)) > 0)
        )
        probes = [qsig]
        if max_hamming >= 1:
            probes += [qsig ^ (1 << j) for j in range(bits)]
        if max_hamming >= 2:
            probes += [
                qsig ^ (1 << a) ^ (1 << b)
                for a in range(bits)
                for b in range(a + 1, bits)
            ]
        out.append(probes)
    return out


def lsh_write_partitioned(
    embeddings: DataFrame,
    path: str,
    dim: int,
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = ("label",),
) -> None:
    """Materialize the multi-table LSH index as a partitioned Parquet
    layout — the signatures-at-ingest form lsh_knn's docstring promises:
    one row copy per table under ``table=<t>/sig=<bucket>/`` so a query's
    per-table probe set becomes PARTITION PRUNING (only the probed bucket
    directories are even listed). The ``tables``× storage duplication is
    the standard multi-table LSH trade — each copy answers its own table's
    bucket lookup with no scan of the rest; at 100 TB the alternative
    (a single copy + OR filter over signature columns) still reads every
    row group. Probe cost per query: tables × (1 + multiprobe) partitions
    of ~N/2^bits rows each."""
    # repartition on the partition keys BEFORE the partitioned write:
    # without it every input task writes a file into every (table, sig)
    # dir — tasks x tables·2^bits small files (measured 16,368 files /
    # 31s at 200k rows; with the shuffle: 514 files / 4s — r8). At scale
    # the file count is the bigger problem than the write time: probe-time
    # partition listing and footer reads pay it on every query.
    lsh_long_form(
        embeddings,
        dim=dim,
        bits=bits,
        tables=tables,
        id_col=id_col,
        emb_col=emb_col,
        payload_cols=payload_cols,
    ).repartition("table", "sig").write.mode("overwrite").partitionBy(
        "table", "sig"
    ).parquet(path)


def lsh_long_form(
    embeddings: DataFrame,
    dim: int,
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """The (table, sig)-keyed long form of the multi-table LSH index —
    one row copy per table — as a DataFrame: the in-memory twin of
    :func:`lsh_write_partitioned`'s persisted layout (which is just this
    written partitioned by (table, sig))."""
    tagged = with_lsh_signature(
        embeddings, dim=dim, bits=bits, tables=tables, emb_col=emb_col
    )
    # r11 (guide §4.1): one posexplode pass instead of a tables-way union
    # of selects. Union children are independent subplans, so the old
    # form re-ran the Arrow signature UDF once PER TABLE (8× the Python
    # matmul and 8× the scan) — the generate form runs it once and emits
    # the identical (…, table, sig) multiset, including (t, NULL) rows
    # for degraded signatures (array() of NULL elements explodes into
    # per-table NULL rows exactly like the per-column selects did).
    return tagged.select(
        id_col,
        emb_col,
        *payload_cols,
        F.posexplode(
            F.array(*[F.col(f"sig_{t}") for t in range(tables)])
        ).alias("table", "sig"),
    )


def lsh_knn_pruned_df(
    df: DataFrame,
    query_vector: list[float],
    k: int = 5,
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
    max_hamming: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """lsh_knn against a (table, sig) long-form layout DataFrame — the
    in-memory :func:`lsh_long_form`, the partitioned layout written by
    :func:`lsh_write_partitioned` (``spark.read.parquet(path)``), or the
    catalog's mask-resolved layout: the per-table probe sets land on the
    ``table``/``sig`` columns — PARTITION pruning when the input is the
    persisted layout (verify:
    PartitionFilters in .explain; the predicate pushes through the
    catalog's mask left-join since it references only the scan side) —
    candidates are deduped by id (a row collides in several tables), then
    exact cosine re-ranks — identical results to the fused operator by
    construction (same probes, same re-rank)."""
    pred = None
    for t, probes in enumerate(
        _query_probes(query_vector, bits=bits, tables=tables, max_hamming=max_hamming)
    ):
        term = (F.col("table") == t) & F.col("sig").isin(probes)
        pred = term if pred is None else (pred | term)
    cands = df.filter(pred).dropDuplicates([id_col])
    q = F.array(*[F.lit(float(x)) for x in query_vector]).cast("array<double>")
    scored = cands.select(
        id_col, *payload_cols, round6(cosine(F.col(emb_col), q)).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def lsh_knn_batch_df(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
    max_hamming: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Batch LSH over a (table, sig) long-form index DataFrame — the
    in-memory :func:`lsh_long_form` or the partitioned layout
    (``spark.read.parquet(path)``): ONE scan of the union of every
    query's probe buckets, instead of N per-query jobs.

    The scan predicate is per-table ``(table == t AND sig IN
    union_of_probes_t)`` — a plain column predicate on the long form and
    (table, sig) PARTITION pruning on the at-ingest parquet layout. Each
    (query, probed bucket) becomes ONE broadcast row keyed by the flat
    ``t·2^bits + sig`` bucket id, and an EQUI-JOIN on that key pairs every
    candidate with exactly the queries that probed its bucket — the first
    cut used crossJoin + array_contains, which multiplies every scanned
    row by |queries| before filtering and measured SLOWER than sequential
    per-query search (tools/stress_batch_index.py; the LSH layout holds
    ``tables`` copies per vector, so the blowup is 4·|queries|×).
    Per-table duplicate copies of a candidate dedupe per query before the
    exact cosine re-rank. Row-identical to per-query
    :func:`lsh_knn_pruned_df` at the same operating point (asserted in
    tests)."""
    spark = df.sparkSession
    if not queries:
        return df.select(
            F.lit(0).cast("long").alias("qid"),
            id_col,
            *payload_cols,
            F.lit(0.0).alias("score"),
        ).limit(0)
    per_table_union: list[set] = [set() for _ in range(tables)]
    qrows = []
    for qid, qv in queries:
        probes = _query_probes(
            qv, bits=bits, tables=tables, max_hamming=max_hamming
        )
        for t, ps in enumerate(probes):
            per_table_union[t].update(int(s) for s in ps)
            qrows += [
                (int(qid), [float(x) for x in qv], t * (1 << bits) + int(s))
                for s in ps
            ]

    pred = None
    for t, union in enumerate(per_table_union):
        if not union:
            continue
        term = (F.col("table") == t) & F.col("sig").isin(sorted(union))
        pred = term if pred is None else (pred | term)
    qdf = spark.createDataFrame(
        qrows, "qid bigint, qv array<double>, __bucket int"
    )
    cands = df.filter(pred).withColumn(
        "__bucket",
        F.col("table").cast("int") * (1 << bits) + F.col("sig").cast("int"),
    )
    joined = cands.join(F.broadcast(qdf), "__bucket").dropDuplicates(
        ["qid", id_col]
    )
    scored = joined.select(
        "qid",
        id_col,
        *payload_cols,
        round6(cosine(F.col(emb_col), F.col("qv"))).alias("score"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def lsh_similarity_join(
    embeddings: DataFrame,
    threshold_l2: float = 0.5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    bucket_length: float = 0.5,
    num_hash_tables: int = 3,
    seed: int = LSH_SEED,
) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH approxSimilarityJoin (SURVEY B8's
    MLlib path): all pairs within an L2 distance threshold, found via
    hash-bucket co-location instead of the N² cross join.

    ARRAY<FLOAT> ↔ VectorUDT conversion happens only at this boundary
    (SURVEY §7.3). Output: (id_a, id_b, dist) with id_a < id_b.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    vecs = embeddings.select(
        id_col, array_to_vector(F.col(emb_col).cast("array<double>")).alias("features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    ).fit(vecs)
    joined = model.approxSimilarityJoin(vecs, vecs, threshold_l2, distCol="dist")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            round6(F.col("dist")).alias("dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .orderBy("id_a", "id_b")
    )


def ivf_index(
    embeddings: DataFrame,
    n_centroids: int | None = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    seed: int = LSH_SEED,
):
    """IVF coarse index: KMeans centroids + per-row nearest-centroid
    assignment. Returns (assigned_df, centroids ndarray).

    ``n_centroids=None`` is SCALE mode: k derives from the corpus row
    count (√N, the FAISS rule of thumb — :func:`_auto_n_centroids`) and
    KMeans trains on a seeded sample of ≤ 256·k rows instead of the full
    corpus, so build cost is bounded by the centroid count (the FAISS
    training-budget convention; centroids from a quarter-million-row
    sample are statistically identical to full-fit ones). An explicit
    ``n_centroids`` keeps the original full-fit behavior — existing
    operating points stay byte-identical.

    The MLlib boundary is the only place arrays convert to VectorUDT
    (SURVEY §7.3); the assignment column is then plain relational state.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    vecs = embeddings.withColumn("features", array_to_vector(F.col(emb_col).cast("array<double>")))
    train = vecs
    if n_centroids is None:
        n_rows = embeddings.count()
        n_centroids = _auto_n_centroids(n_rows)
        cap = IVF_TRAIN_ROWS_PER_CENTROID * n_centroids
        if n_rows > cap:
            train = vecs.sample(fraction=min(1.0, cap / n_rows), seed=seed)
    model = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(train)
    assigned = model.transform(vecs).withColumnRenamed("prediction", "centroid_id").drop(
        "features"
    )
    centroids = np.array([np.asarray(c) for c in model.clusterCenters()])
    return assigned, centroids


def ivf_write_partitioned(assigned: DataFrame, path: str) -> None:
    """Materialize the IVF index as a centroid-partitioned Parquet layout —
    the physical form that turns nprobe into partition pruning (only
    nprobe/n_centroids of the files are even listed at query time).
    Repartitioned on the cell first: otherwise every input task writes a
    file into every probed cell dir — tasks x n_centroids small files
    (32k at 1M rows / sqrt-N auto cells), paid back as footer reads on
    every probe (same fix as lsh_write_partitioned, r8)."""
    assigned.repartition("centroid_id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(path)


def ivf_knn(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vector: list[float],
    k: int = 5,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Probe the ``nprobe`` nearest centroids, exact re-rank inside them.

    ``nprobe=None`` (the default since round 7) derives the probe count
    from the centroid count and a target scan fraction
    (:func:`_auto_nprobe`) — the scale-aware twin of NSW's ``_auto_ef``;
    an explicit int pins the operating point. At scale ``centroid_id`` is
    the partition column: over the layout :func:`ivf_write_partitioned`
    wrote (``spark.read.parquet(path)``) the centroid filter is a
    partition predicate (verify: PartitionFilters in .explain), reading
    nprobe/n_centroids of the data.
    """
    nprobe = _auto_nprobe(nprobe, len(centroids))
    q = np.asarray(query_vector, dtype=float)
    cnorm = np.linalg.norm(centroids, axis=1) * np.linalg.norm(q)
    sims = centroids @ q / np.where(cnorm == 0, 1.0, cnorm)
    probe = [int(i) for i in np.argsort(-sims)[:nprobe]]
    cands = assigned.filter(F.col("centroid_id").isin(probe))
    qcol = F.array(*[F.lit(float(x)) for x in query_vector]).cast("array<double>")
    scored = cands.select(
        id_col, *payload_cols, round6(cosine(F.col(emb_col), qcol)).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def ivf_knn_batch(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Batch IVF: answer N queries with ONE scan of the UNION of their
    probe cells, instead of N per-query jobs.

    Each query's ``nprobe`` nearest centroids are computed driver-side
    (one tiny numpy matmul over the centroid table); the scan filter is
    ``centroid_id IN union(all probe sets)`` — still a partition
    predicate against the at-ingest layout, so the batch reads at most
    ``|union|/n_centroids`` of the corpus once. Per-(candidate, query)
    relevance is restored by the join shape itself: each (query, probed
    cell) pair becomes ONE broadcast row, and the EQUI-JOIN on
    ``centroid_id`` pairs every scanned index row with exactly the
    queries that probed its cell — no pair ever materializes for an
    unprobed cell (same pattern as :func:`lsh_knn_batch_df`; the first cut
    crossJoined every scanned row against all |queries| and filtered
    after, which measured SLOWER than sequential). ``nprobe=None``
    derives the probe count from the centroid count (:func:`_auto_nprobe`).
    Results are row-identical to running :func:`ivf_knn` per query at the
    same nprobe (asserted in tests) — the batching is purely physical.
    """
    if not queries:
        return assigned.select(
            F.lit(0).cast("long").alias("qid"),
            id_col,
            *payload_cols,
            F.lit(0.0).alias("score"),
        ).limit(0)
    nprobe = _auto_nprobe(nprobe, len(centroids))
    Q = np.asarray([[float(x) for x in q[1]] for q in queries], dtype=float)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    cn = np.linalg.norm(centroids, axis=1)[None, :]
    sims = (Q @ centroids.T) / (np.where(cn == 0, 1.0, cn) * np.where(qn == 0, 1.0, qn))
    probes = [[int(i) for i in np.argsort(-s)[:nprobe]] for s in sims]
    union = sorted({c for p in probes for c in p})

    spark = assigned.sparkSession
    # one broadcast row per (query, probed cell), equi-joined on the cell:
    # an index row meets ONLY the queries that probed its cell. The first
    # cut used crossJoin + array_contains, which multiplies every scanned
    # row by |queries| before filtering — measured SLOWER than sequential
    # per-query search on the LSH twin (tools/stress_batch_index.py).
    qdf = spark.createDataFrame(
        [
            (int(qid), [float(x) for x in v], int(c))
            for (qid, v), p in zip(queries, probes)
            for c in p
        ],
        "qid bigint, qv array<double>, centroid_id int",
    )
    # filter BEFORE the cast: the isin lands on the raw partition column
    # (partition pruning); the cast only normalizes the join key type
    cands = assigned.filter(F.col("centroid_id").isin(union)).withColumn(
        "centroid_id", F.col("centroid_id").cast("int")
    )
    joined = cands.join(F.broadcast(qdf), "centroid_id")
    scored = joined.select(
        "qid",
        id_col,
        *payload_cols,
        round6(cosine(F.col(emb_col), F.col("qv"))).alias("score"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


PQ_M = 8      # subspaces (64-d → 8 slices of 8)
PQ_KSUB = 16  # centroids per subspace → 4-bit codes, 8 per vector
# Scale-aware re-rank shortlist (round 7): a FIXED shortlist already bit
# twice — 100 → 200 when the fixture grew 4x (r4), and at 1M rows the
# 200 default measured recall@5 0.56 while 500 restored 1.00 at the SAME
# wall clock (STRESS.md "IVF+PQ shortlist curve"). The ADC ranking's
# quantization error is constant, but the number of competitors inside
# that error margin grows with the scanned-code count — so the honest
# default is a FRACTION of what the ADC pass scanned, floored at the
# fixture-tuned 200: shortlist = max(200, ceil(0.004 · n_scanned)).
# 0.004 is the measured knee (recall 1.00 at 1M; half that was 0.56);
# the re-rank stays a 0.4% sliver of the already-pruned scan, and small
# corpora sit on the floor, so every fixture operating point is
# unchanged. Explicit ints still pin.
PQ_SHORTLIST_FLOOR = 200
PQ_SHORTLIST_SCAN_FRAC = 0.004


def _auto_shortlist(shortlist: int | None, n_scanned: int) -> int:
    import math

    if shortlist is not None:
        return shortlist
    return max(
        PQ_SHORTLIST_FLOOR,
        math.ceil(PQ_SHORTLIST_SCAN_FRAC * max(n_scanned, 0)),
    )


def pq_train(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    seed: int = LSH_SEED,
    sample_cap: int = 4096,
) -> np.ndarray:
    """Train product-quantization codebooks (Jégou et al. 2011): split the
    vector into ``m`` subspaces and k-means each slice independently.

    Training runs driver-side on a deterministic hash-bounded sample
    (≤ ``sample_cap`` rows — index-build cost is bounded by a parameter,
    not data size; the full-data passes are encode/search, which stay
    distributed). Lloyd iterations with a seeded numpy init make the
    codebooks bit-reproducible.

    Returns ndarray (m, ksub, dim/m).
    """
    from vector_database_spark.functions.hashing import seeded_hash

    n = embeddings.count()
    stride = max(1, -(-n // sample_cap))  # ceil: keeps at most ~sample_cap rows
    sample = embeddings.filter(
        F.pmod(seeded_hash(F.col(id_col).cast("string"), seed), F.lit(stride)) == 0
    )
    X = np.asarray(
        [list(r[emb_col]) for r in sample.select(emb_col).collect()], dtype=np.float64
    )
    if X.size == 0:
        raise ValueError("pq_train: no vectors to train on (empty input/sample)")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        cent = S[rng.choice(len(S), size=min(ksub, len(S)), replace=False)].copy()
        for _ in range(15):  # Lloyd
            d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                members = S[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append(cent)
    return np.asarray(books)


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = ("label",),
    with_recon_err: bool = False,
) -> DataFrame:
    """Encode every vector to ``m`` nibble codes (nearest centroid per
    subspace) — 64 float32 bytes → 8 code bytes, 32x smaller. Distributed
    mapInPandas with one vectorized argmin per Arrow batch.

    ``with_recon_err=True`` additionally emits ``__recon_err`` — the
    row's L2 reconstruction error ||e − decode(code)||₂, i.e. the sqrt
    of the summed per-subspace winning distances the argmin already
    computed (zero extra passes). This is the PQ drift statistic: a
    write distribution the codebooks were not trained on reconstructs
    WORSE, and the build-vs-refresh ratio of this mean is the codebook
    analogue of IVF's centroid-drift ratio (catalog.py r10).
    """

    m, ksub, dsub = codebooks.shape
    books = codebooks  # captured in the closure, broadcast with the task

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray([list(e) for e in pdf[emb_col]], dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            err2 = np.zeros(len(X), dtype=np.float64)
            for j in range(m):
                S = X[:, j * dsub : (j + 1) * dsub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
                if with_recon_err:
                    err2 += d2[np.arange(len(X)), codes[:, j]]
            out = {id_col: pdf[id_col]}
            for c in payload_cols:
                out[c] = pdf[c]
            out["code"] = list(codes.tolist())
            if with_recon_err:
                # fp can go epsilon-negative for exactly-representable rows
                out["__recon_err"] = np.sqrt(np.maximum(err2, 0.0))
            yield pd.DataFrame(out)

    fields = ", ".join(
        [f"{id_col} bigint"]
        + [f"{c} {dict(embeddings.dtypes)[c]}" for c in payload_cols]
        + ["code array<int>"]
        + (["__recon_err double"] if with_recon_err else [])
    )
    return embeddings.select(id_col, *payload_cols, emb_col).mapInPandas(encode, fields)


def pq_knn(
    encoded: DataFrame,
    codebooks: np.ndarray,
    query_vector: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    payload_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query builds one
    m×ksub lookup table of squared L2 distances to every centroid; each
    row's score is m table lookups + adds — NO float vectors are read.

    The tables compile to literal arrays, so scoring is a pure JVM
    expression (element_at over lit arrays) with TakeOrderedAndProject on
    top: at scale this scans only the 8-byte codes. Approximate (codebook
    quantization error) → rows-only + recall gate in tests.
    """
    m, ksub, dsub = codebooks.shape
    q = np.asarray(query_vector, dtype=np.float64)
    score = None
    for j in range(m):
        qs = q[j * dsub : (j + 1) * dsub]
        table = ((codebooks[j] - qs[None, :]) ** 2).sum(axis=1)
        lut = F.array(*[F.lit(float(x)) for x in table])
        term = F.element_at(lut, F.col("code")[j] + 1)
        score = term if score is None else score + term
    return (
        encoded.select(id_col, *payload_cols, score.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_knn(
    assigned_codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 5,
    nprobe: int | None = None,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = ("label",),
    n_codes: int | None = None,
) -> DataFrame:
    """IVF+PQ composite index (the FAISS ``IVFxx,PQyy`` production shape,
    Jégou et al. 2011 §V): coarse-quantize to route the query to
    ``nprobe`` cells, ADC-scan ONLY those cells' 8-byte PQ codes for a
    ``shortlist``, then exact re-rank the shortlist against the float
    vectors.

    ``assigned_codes``: rows of (id, centroid_id, code) — built once at
    ingest by :func:`ivf_index` + :func:`pq_encode`. At scale it is
    written partitioned by ``centroid_id`` (ivf_write_partitioned), so
    the cell filter is partition PRUNING, the ADC pass reads
    nprobe/n_centroids of the code bytes, and the re-rank touches a
    constant ``shortlist`` float vectors — the full 100 TB search path
    never reads more than a sliver of the data. ``nprobe=None`` derives
    the probe count from the centroid count (:func:`_auto_nprobe`).
    Approximate → rows-only, recall-gated in tests/test_ann.py.
    """
    nprobe = _auto_nprobe(nprobe, len(centroids))
    if shortlist is None:
        # scanned-code estimate: row count × probed-cell fraction. Over
        # the PERSISTED layout a parquet count() answers from footer
        # metadata — but over the FUSED build-and-search shape the count
        # executes the whole KMeans-transform + Python encode pipeline
        # once just to size the shortlist, and the ADC scan then executes
        # it again (r11, guide §4.1: the opaque mapInPandas defeats any
        # metadata shortcut). Callers that know the corpus row count pass
        # ``n_codes`` (pq_encode emits exactly one code row per input
        # row, so the raw-table footer count IS the code count) and the
        # extra Python pass disappears; the derived shortlist is
        # identical.
        n = assigned_codes.count() if n_codes is None else n_codes
        shortlist = _auto_shortlist(
            None, int(n * nprobe / max(len(centroids), 1))
        )
    q = np.asarray(query_vector, dtype=float)
    cnorm = np.linalg.norm(centroids, axis=1) * np.linalg.norm(q)
    sims = centroids @ q / np.where(cnorm == 0, 1.0, cnorm)
    probe = [int(i) for i in np.argsort(-sims)[:nprobe]]
    cell_codes = assigned_codes.filter(F.col("centroid_id").isin(probe))
    cand = pq_knn(
        cell_codes, codebooks, query_vector, k=shortlist, id_col=id_col,
        payload_cols=(),
    ).select(id_col)
    from vector_database_spark.operators import knn as knn_mod

    joined = embeddings.join(F.broadcast(cand), id_col)
    return knn_mod.knn(
        joined,
        [float(x) for x in query_vector],
        k=k,
        metric="euclid",
        id_col=id_col,
        emb_col=emb_col,
        payload_cols=payload_cols,
    )


def ivfpq_knn_batch(
    assigned_codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int | None = None,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = (),
    rerank_metric: str = "euclid",
    n_codes: int | None = None,
) -> DataFrame:
    """Batch IVF+PQ: N queries through ONE code scan of the union of
    their probe cells (the :func:`ivf_knn_batch` equi-join pattern), each
    broadcast (query, cell) row carrying the query's own m×ksub ADC
    lookup table. Per-pair ADC cost is identical to the single-query
    plan — ``zip_with(code, lut)`` sums the same doubles in the same
    subspace order as :func:`pq_knn`'s literal-array expression — then a
    per-query shortlist window and one broadcast re-rank join against the
    float vectors score every query's shortlist exactly. Row-identical to
    per-query :func:`ivfpq_knn` at the same operating point (asserted in
    tests)."""
    from vector_database_spark.functions.vector import l2_dist

    if not queries:
        return embeddings.select(
            F.lit(0).cast("long").alias("qid"),
            id_col,
            *payload_cols,
            F.lit(0.0).alias("score"),
        ).limit(0)
    nprobe = _auto_nprobe(nprobe, len(centroids))
    if shortlist is None:
        # same n_codes shortcut as ivfpq_knn (r11): over the fused shape
        # the count would execute the Python encode once extra
        n = assigned_codes.count() if n_codes is None else n_codes
        shortlist = _auto_shortlist(
            None, int(n * nprobe / max(len(centroids), 1))
        )
    Q = np.asarray([[float(x) for x in q[1]] for q in queries], dtype=float)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    cn = np.linalg.norm(centroids, axis=1)[None, :]
    sims = (Q @ centroids.T) / (np.where(cn == 0, 1.0, cn) * np.where(qn == 0, 1.0, qn))
    probes = [[int(i) for i in np.argsort(-s)[:nprobe]] for s in sims]
    union = sorted({c for p in probes for c in p})

    m, ksub, dsub = codebooks.shape
    luts = []
    for qv in Q:
        luts.append(
            [
                [
                    float(x)
                    for x in ((codebooks[j] - qv[j * dsub : (j + 1) * dsub][None, :]) ** 2).sum(axis=1)
                ]
                for j in range(m)
            ]
        )

    spark = assigned_codes.sparkSession
    qdf = spark.createDataFrame(
        [
            (int(qid), [float(x) for x in v], int(c), lut)
            for ((qid, v), p, lut) in zip(queries, probes, luts)
            for c in p
        ],
        "qid bigint, qv array<double>, centroid_id int, lut array<array<double>>",
    )
    cands = assigned_codes.filter(F.col("centroid_id").isin(union)).withColumn(
        "centroid_id", F.col("centroid_id").cast("int")
    )
    joined = cands.join(F.broadcast(qdf), "centroid_id")
    # same left-associative subspace-order sum of the same doubles as
    # pq_knn's literal-LUT chain — ADC scores are bit-identical
    adc = F.aggregate(
        F.zip_with(
            F.col("code"),
            F.col("lut"),
            lambda c, l: F.element_at(l, c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql.window import Window

    w_short = Window.partitionBy("qid").orderBy(
        F.col("adc").asc(), F.col(id_col).asc()
    )
    shortlisted = (
        joined.select("qid", id_col, "qv", adc.alias("adc"))
        .withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= shortlist)
        .select("qid", id_col, "qv")
    )
    rerank = embeddings.join(F.broadcast(shortlisted), id_col)
    if rerank_metric == "cosine":
        score = round6(cosine(F.col(emb_col), F.col("qv")))
        order = F.col("score").desc()
    else:
        score = round6(l2_dist(F.col(emb_col), F.col("qv")))
        order = F.col("score").asc()
    w_k = Window.partitionBy("qid").orderBy(order, F.col(id_col).asc())
    return (
        rerank.select("qid", id_col, *payload_cols, score.alias("score"))
        .withColumn("rn", F.row_number().over(w_k))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def pq_knn_rerank(
    encoded: DataFrame,
    codebooks: np.ndarray,
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 5,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = ("label",),
    n_codes: int | None = None,
) -> DataFrame:
    """The production PQ search pipeline: ADC over codes produces a
    ``shortlist`` (scanning 8-byte codes only), then the shortlist joins
    back to the float vectors for an exact L2 re-rank — the standard
    two-stage shape (Jégou et al. 2011 §IV). Only ``shortlist`` float
    vectors are ever touched per query; the broadcast of the candidate
    id set keeps the join shuffle-free. ``shortlist=None`` (the default
    since round 7) derives max(200, ceil(0.004 · scanned_codes)) — a
    fixed shortlist bit twice as corpora grew (100 → 200 at r4; 200
    measured recall 0.56 at 1M rows where 500 restores 1.00, STRESS.md
    "IVF+PQ shortlist curve"), so the honest default is a constant
    FRACTION of the ADC-scanned codes with the fixture-tuned 200 as the
    floor. Explicit ints still pin (tests/test_ann.py gates the floor).
    """
    from vector_database_spark.operators import knn as knn_mod

    if shortlist is None:
        # n_codes (r11): over the fused encode-and-search shape a count()
        # here executes the whole Python encode once extra just to size
        # the shortlist — callers that know the corpus row count pass it
        # (one code row per input row; identical derived shortlist)
        shortlist = _auto_shortlist(
            None, encoded.count() if n_codes is None else n_codes
        )
    cand = pq_knn(
        encoded, codebooks, query_vector, k=shortlist, id_col=id_col, payload_cols=()
    ).select(id_col)
    joined = embeddings.join(F.broadcast(cand), id_col)
    return knn_mod.knn(
        joined,
        [float(x) for x in query_vector],
        k=k,
        metric="euclid",
        id_col=id_col,
        emb_col=emb_col,
        payload_cols=payload_cols,
    )


# ---------------------------------------------------------------------------
# Graph-index ANN: per-partition navigable-small-world (HNSW-class)
# ---------------------------------------------------------------------------

NSW_M = 8        # out-degree target on insert
NSW_M_MAX = 16   # degree cap after bidirectional linking (2×M, HNSW convention)
NSW_EF = 48      # search beam FLOOR (the recall knob — see STRESS.md curve)
NSW_EF_CONSTRUCTION = 64  # build beam width (graph quality, paid once at ingest)
# Scale-aware search beam (round-6 directive 2): at fixed ef=48, recall@5
# collapses 0.94 → 0.65 as buckets grow 2.5k → 15.6k rows (STRESS.md NSW
# curve) — a fixed beam explores a shrinking fraction of a growing graph.
# ef=None (the default) derives the beam per bucket as
# max(NSW_EF, 2·sqrt(bucket_rows)): measured recall@5 0.93-1.00 at every
# operating point from 2.5k to 15.6k rows/bucket (up to 1M total rows) on
# uniform-random vectors — the ANN worst case — while beam cost grows only
# O(sqrt) in bucket size (STRESS.md "NSW graph ANN"). The beam is chosen
# INSIDE the per-bucket kernel where the bucket size is already known, so
# auto-scaling costs no extra pass; pass an explicit int to pin it.
NSW_EF_SQRT_COEF = 2
# Scale-aware bucket count (r9 directive/VERDICT 8): the per-bucket graph
# build is the NSW cost driver — linear in bucket rows with a python-side
# constant (see _nsw_build), and a bucket must fit one executor's memory.
# n_buckets=None derives ceil(N / TARGET) (capped), so bucket size — and
# with it per-task build wall time AND per-executor graph memory — stays
# ~constant as the corpus grows; the bucket count grows linearly like the
# segment count of a Lucene/Qdrant index. 25k rows ≈ 10-15s build per
# task at 64-d (measured, STRESS.md "Index build cost"); the 4096 cap
# bounds scheduler overhead and the per-query bucket fan-out.
NSW_BUCKET_TARGET_ROWS = 25_000
NSW_MAX_BUCKETS = 4096


def _auto_nsw_buckets(n_buckets: int | None, n_rows: int) -> int:
    import math

    if n_buckets is not None:
        return n_buckets
    return min(max(1, math.ceil(n_rows / NSW_BUCKET_TARGET_ROWS)), NSW_MAX_BUCKETS)


def _resolve_nsw_buckets(n_buckets: int | None, embeddings: DataFrame) -> int:
    """_auto_nsw_buckets against a DataFrame: pays the (footer-cheap)
    count ONLY when deriving — pinned callers never run a job. The one
    place the count-if-None guard lives (r9 review)."""
    if n_buckets is not None:
        return n_buckets
    return _auto_nsw_buckets(None, embeddings.count())


def _auto_ef(ef: int | None, n_bucket: int) -> int:
    import math

    if ef is not None:
        return ef
    return max(NSW_EF, int(NSW_EF_SQRT_COEF * math.sqrt(max(n_bucket, 1))))


def _nsw_build(X: "np.ndarray", M: int, ef: int, m_max: int | None = None):
    """Incremental single-layer NSW construction (Malkov et al. 2014 —
    the base layer of HNSW): insert points in order; each new point
    beam-searches the current graph for its M nearest, links
    bidirectionally, and over-degree nodes prune back to their ``m_max``
    (default 2×M, the HNSW convention — scales with the caller's M
    instead of a fixed cap) closest. Returns adjacency as a list of int
    lists. X must be L2-normalized rows; insertion order is the caller's
    (sorted by id → deterministic).

    r9 (VERDICT 5): the loop is numpy-native and CHUNK-BATCHED —
    adjacency lives in a preallocated (n, m_max+1) int32 matrix + degree
    vector (no per-node python lists to append/rebuild); distances are
    1−x·q on the normalized rows (order-equivalent to the squared-euclid
    the pre-r9 kernel used, half the memory traffic); and after a short
    sequential warmup, insertions proceed in chunks of 64: the chunk's
    beam searches run through :func:`_nsw_search_multi` against the
    graph frozen at the chunk start (amortizing numpy call overhead — the
    measured cost — across the batch), then members wire in id order.
    Chunk members don't traverse each other during the search, so each
    member's candidate pool is UNIONED with its exact distances to
    earlier chunk-mates (one B×B matmul) before selecting its M links —
    near-identical neighbors with adjacent ids still link to each other,
    the case frozen-graph chunking would otherwise miss. Fixed chunk and
    warmup sizes keep the graph deterministic. Measured 2.1× faster at
    20k AND at 200k rows (21.9s→10.5s, 279s→136s single-graph A/B vs the
    r8 kernel) with recall equal or better at every gate
    (tests/test_ann.py; 200k auto-ef recall 0.676→0.708; STRESS.md
    "Index build cost" re-run)."""
    m_max = 2 * M if m_max is None else m_max
    n = X.shape[0]
    # +1 slot: a node's degree transiently hits m_max+1 between the
    # bidirectional append and its prune-back. Zero padding (not -1):
    # the batched kernel's visited scatter touches padding columns, and
    # node 0 is the always-pre-visited entry point — harmless.
    A = np.zeros((n, m_max + 1), dtype=np.int32)
    deg = np.zeros(n, dtype=np.int32)
    _nsw_insert_from(X, A, deg, start=1, M=M, ef=ef, m_max=m_max)
    return [A[i, : deg[i]].tolist() for i in range(n)]


def _nsw_insert_from(X, A, deg, start: int, M: int, ef: int, m_max: int):
    """Insert nodes ``start..n-1`` of X into the graph held in (A, deg)
    over nodes ``0..start-1``, in place — the insertion loop of
    :func:`_nsw_build`, factored out (r11) so segment CONSOLIDATION can
    re-insert only a delta's rows into an existing base graph instead of
    rebuilding all N. ``start=1`` with zeroed (A, deg) is exactly the
    from-scratch build (node 0 of an empty graph has nothing to search,
    it just waits to be linked to). Same determinism contract: fixed
    sequential warmup while the graph is tiny, then 64-chunk batched
    beams against the graph frozen at the chunk start, chunk-mates
    unioned via the exact intra-chunk distance matmul."""
    n = X.shape[0]
    visited_gen = np.zeros(n, dtype=np.int64)
    ef_b = max(ef, M)

    def wire(node, links):
        nd = len(links)
        A[node, :nd] = links
        deg[node] = nd
        for j in links:
            dj = int(deg[j])
            A[j, dj] = node
            dj += 1
            if dj > m_max:
                nb = A[j, :dj]
                d = 1.0 - X[nb] @ X[j]
                keep = np.argsort(d, kind="stable")[:m_max]
                A[j, :m_max] = nb[keep]
                deg[j] = m_max
            else:
                deg[j] = dj

    warm = min(n, 256)
    i = start
    while i < warm:
        # gen=i: each search is one fresh visited generation, so the
        # array never needs clearing
        found = _nsw_search(X, A, deg, X[i], ef_b, 0, visited_gen, i)
        wire(i, [j for _, j in found[:M]])
        i += 1
    chunk, scratch = 64, None
    while i < n:
        B = min(chunk, n - i)
        Qc = X[i : i + B]
        found_all, scratch = _nsw_search_multi(
            X, A, deg, Qc, ef_b, 0, scratch
        )
        intra = 1.0 - Qc @ Qc.T
        for b in range(B):
            cands = found_all[b]
            if b:
                cands = sorted(
                    cands
                    + [(float(intra[b, t]), i + t) for t in range(b)]
                )
            wire(i + b, [j for _, j in cands[:M]])
        i += B


def _adj_matrix(adj: list[list[int]]):
    """Pack list-of-lists adjacency (the persisted/returned form) into
    the (matrix, degree) form the beam kernel consumes."""
    n = len(adj)
    deg = np.fromiter((len(r) for r in adj), count=n, dtype=np.int32)
    cap = max(int(deg.max()) if n else 0, 1)
    A = np.zeros((n, cap), dtype=np.int32)
    for i, r in enumerate(adj):
        A[i, : len(r)] = r
    return A, deg


def _bucket_arrays(pdf, id_col: str, emb_col: str):
    """Shared per-bucket prep for build AND search: sort by id (the
    deterministic insertion order and the entry-point rule — position 0 =
    min id) and L2-normalize. Fused/persisted result equality rests on
    both paths using exactly this."""
    pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
    X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    return pdf, X / np.where(norms == 0, 1.0, norms)


def _normalize_queries(queries: list[tuple[int, list[float]]]):
    qids = [int(q[0]) for q in queries]
    qmat = np.stack([np.asarray(q[1], dtype=np.float64) for q in queries])
    qnorm = np.linalg.norm(qmat, axis=1, keepdims=True)
    return qids, qmat / np.where(qnorm == 0, 1.0, qnorm)


def _search_bucket(pdf, X, adj, qids, qmat, k: int, ef: int, id_col: str):
    """Beam-search every query against one bucket's graph through the
    batched kernel (chunks of 64 concurrent beams — r9); exact cosine
    (normalized dot) recomputed for emitted candidates.

    The per-bucket top-k TRUNCATION ranks by the RECOMPUTED score with
    an id tie-break — the same total order _merge_bucket_topk applies —
    not by the kernel's internal beam distances (r10): the kernel
    scores its entry node through a vector dot but neighbor batches
    through a BLAS matmul, and the two can differ by an ulp on
    IDENTICAL vectors, so duplicate-vector ties would otherwise order
    arbitrarily and the bucket could truncate away the lower id the
    global merge is contractually supposed to prefer. Scoring the whole
    ≤ef pool instead of k rows is one small matmul per query —
    negligible next to the beam."""
    A, deg = _adj_matrix(adj)
    ids = pdf[id_col].to_numpy()
    rows = []
    ef_q = max(ef, k)
    CH, scratch = 64, None
    for s in range(0, len(qids), CH):
        Qc = qmat[s : s + CH]
        found_all, scratch = _nsw_search_multi(
            X, A, deg, Qc, ef_q, 0, scratch
        )
        for bi, found in enumerate(found_all):
            qi, qv = qids[s + bi], Qc[bi]
            if not found:
                continue
            nodes = np.fromiter((v for _, v in found), dtype=np.int64)
            scores = X[nodes] @ qv
            node_ids = ids[nodes]
            order = np.lexsort((node_ids, -scores))[:k]
            for j in order:
                rows.append((qi, int(node_ids[j]), float(scores[j])))
    return pd.DataFrame(rows, columns=["qid", id_col, "score"])


def _merge_bucket_topk(per: DataFrame, k: int, id_col: str) -> DataFrame:
    """Global per-query top-k over the per-bucket winners."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        per.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _nsw_search_multi(X, A, deg, Q, ef: int, entry: int, scratch=None):
    """B concurrent best-first beams over one frozen graph — the batched
    twin of :func:`_nsw_search` (r9, VERDICT 5), with the ENTIRE beam
    state vectorized across beams: candidates and results live in fixed
    (B, ef) distance/node arrays (+inf = empty slot), a pop is one
    argmin row-reduce, and a push-batch is one bounded argpartition
    merge — zero per-beam python, ~15 numpy calls per iteration for all
    B beams together (the scalar kernel paid ~5 calls per beam per
    expansion; heapq maintenance alone was a third of the build).

    Same best-first algorithm and termination bound as _nsw_search. Two
    deliberate approximations, both recall-re-gated (tests/test_ann.py,
    STRESS curves): the candidate frontier is BOUNDED to the ef best
    (hnswlib keeps it unbounded; a dropped candidate is one the bound
    check would almost always have pruned at pop time — worst only
    tightens), and exact-tie survivors at the ef boundary follow
    argpartition's deterministic order rather than node-id order
    (deterministic across runs either way).

    Returns a list of [(dist, node)] ascending, one per query row.
    ``scratch`` is the reusable visited state — ``[epoch_matrix,
    counter]``, handed back in by the caller across calls so the (B, n)
    matrix is allocated and zeroed ONCE per bucket (a fresh epoch per
    (call, beam) marks visits; nothing is ever cleared — without this,
    per-call bitmap zeroing alone is O(n²) across a build)."""
    B, n = Q.shape[0], deg.shape[0]
    cap = A.shape[1]
    col = np.arange(cap)
    if (
        scratch is None
        or scratch[0].shape[0] < B
        or scratch[0].shape[1] != n
    ):
        scratch = [np.zeros((B, n), dtype=np.int64), 0]
    V = scratch[0]
    # one fresh epoch value per beam of this call
    ep0 = scratch[1] + 1
    scratch[1] = ep0 + B - 1
    eps = np.arange(ep0, ep0 + B, dtype=np.int64)
    V[:B, entry] = eps
    d0 = 1.0 - X[entry] @ Q.T  # (B,)
    INF = np.inf
    # single pool per beam (the NSG-style greedy pool): the ef best
    # scored nodes with an expanded flag — the unexpanded subset IS the
    # candidate frontier, so one bounded merge per iteration serves both
    # roles the two heaps played
    pool_d = np.full((B, ef), INF)
    pool_n = np.zeros((B, ef), dtype=np.int64)
    pool_x = np.zeros((B, ef), dtype=bool)  # expanded?
    pool_d[:, 0] = d0
    pool_n[:, 0] = entry
    alive = np.arange(B)
    while alive.size:
        pda = pool_d[alive]
        un = np.where(pool_x[alive], INF, pda)
        pop = un.argmin(axis=1)
        rows = np.arange(alive.size)
        d = un[rows, pop]
        # worst pool entry per beam: +inf while the row isn't full, so
        # the bound can only fire on a full row — the heap semantics
        worst = pda.max(axis=1)
        keep = (d < INF) & (d <= worst)
        if not keep.any():
            break
        alive = alive[keep]
        pop = pop[keep]
        worst = worst[keep]
        pool_x[alive, pop] = True
        ua = pool_n[alive, pop]
        epc = eps[alive][:, None]
        NB = A[ua]                                   # (a, cap)
        ok = (col[None, :] < deg[ua][:, None]) & (V[alive[:, None], NB] != epc)
        # unconditional scatter: padding columns point at node 0 (the
        # entry), which is pre-visited for every beam — harmless
        V[alive[:, None], NB] = epc
        D = 1.0 - np.matmul(X[NB], Q[alive][:, :, None])[:, :, 0]
        # qualify: unvisited AND better than the current worst (rows not
        # yet full have worst = +inf, admitting everything) — then ONE
        # bounded merge of (ef old + cap new) per beam via argpartition
        # (push-all-then-keep-best-ef ≡ the heap's push-if-better-then-
        # pop-worst for everything but boundary ties)
        D = np.where(ok & (D < worst[:, None]), D, INF)
        md = np.concatenate([pda[keep], D], axis=1)
        mn = np.concatenate([pool_n[alive], NB], axis=1)
        mx = np.concatenate([pool_x[alive], np.zeros_like(ok)], axis=1)
        sel = np.argpartition(md, ef - 1, axis=1)[:, :ef]
        r = np.arange(alive.size)[:, None]
        pool_d[alive] = md[r, sel]
        pool_n[alive] = mn[r, sel]
        pool_x[alive] = mx[r, sel]
    out = []
    for b in range(B):
        row = sorted(
            (float(dv), int(v))
            for dv, v in zip(pool_d[b], pool_n[b])
            if dv < INF
        )
        out.append(row)
    return out, scratch


def _nsw_search(X, A, deg, q, ef: int, entry: int, visited_gen, gen: int):
    """Best-first beam search over the graph: maintain a candidate heap
    and a bounded result heap of size ef; expand the closest unexpanded
    candidate until it is farther than the worst result. Ties break on
    node id (deterministic). Returns [(dist, node)] sorted ascending.

    Distance is 1 − x·q over L2-normalized rows (order-equivalent to
    squared euclid at half the memory traffic). ``visited_gen``/``gen``
    is the generation-counter visited set: one persistent int array per
    bucket, a fresh ``gen`` per search, no per-search allocation or
    clearing. Adjacency rows contain only already-inserted nodes (the
    build appends node i to its neighbors AFTER i's own search), so no
    bounds filter is needed during construction."""
    d0 = float(1.0 - X[entry] @ q)
    visited_gen[entry] = gen
    cand = [(d0, entry)]           # min-heap: closest first
    result = [(-d0, entry)]        # max-heap (negated): worst first
    while cand:
        d, u = heapq.heappop(cand)
        if -result[0][0] < d and len(result) >= ef:
            break
        nb = A[u, : deg[u]]
        nb = nb[visited_gen[nb] != gen]
        if not nb.size:
            continue
        visited_gen[nb] = gen
        dists = 1.0 - X[nb] @ q
        rlen = len(result)
        worst = -result[0][0]
        for dv, v in zip(dists.tolist(), nb.tolist()):
            if rlen < ef or dv < worst:
                heapq.heappush(cand, (dv, v))
                heapq.heappush(result, (-dv, v))
                if rlen >= ef:
                    heapq.heappop(result)
                else:
                    rlen += 1
                worst = -result[0][0]
    return sorted((-nd, v) for nd, v in result)


def nsw_knn(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    n_buckets: int | None = 4,
    M: int = NSW_M,
    ef: int | None = None,
    ef_construction: int = NSW_EF_CONSTRUCTION,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    payload_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """HNSW-class graph ANN, Spark-shaped: the corpus is hash-bucketed,
    each bucket builds an in-memory NSW graph and beam-searches every
    query (one applyInPandas pass — build cost amortizes over the query
    batch), and the per-bucket top-k merge to a global top-k per query.
    This is exactly how segment-local HNSW ships in production systems
    (Lucene/Elasticsearch build one graph per immutable segment and merge
    per-segment results): the graph never needs to span executors, and
    each bucket's memory is corpus/n_buckets — pick n_buckets so a
    bucket's vectors fit one executor. At 100 TB the graphs would be
    built ONCE at ingest and persisted; here build+search are fused
    because the fixture rebuild is cheap.

    Deterministic (insertion order + tie-breaks on id) but approximate →
    rows-only; recall gated in tests/test_ann.py. Scores are cosine
    similarities recomputed exactly for the returned candidates."""
    if not queries:
        return embeddings.select(
            F.lit(0).cast("long").alias("qid"),
            id_col,
            *payload_cols,
            F.lit(0.0).alias("score"),
        ).limit(0)
    # n_buckets=None: bucket count from the corpus size (one footer-cheap
    # count) so per-bucket build time and memory stay bounded — see
    # _auto_nsw_buckets; the q_knn_nsw_auto bench canary runs this path
    n_buckets = _resolve_nsw_buckets(n_buckets, embeddings)
    qids, qmat = _normalize_queries(queries)
    pay = list(payload_cols)

    def per_bucket(pdf):
        pdf, X = _bucket_arrays(pdf, id_col, emb_col)
        adj = _nsw_build(X, M=M, ef=ef_construction)
        return _search_bucket(
            pdf, X, adj, qids, qmat, k, _auto_ef(ef, len(pdf)), id_col
        )

    bucketed = embeddings.select(
        id_col, emb_col, (F.pmod(F.xxhash64(F.col(id_col)), n_buckets)).alias("_b")
    )
    per = bucketed.groupBy("_b").applyInPandas(
        per_bucket, f"qid long, {id_col} long, score double"
    )
    topk = _merge_bucket_topk(per, k, id_col)
    if pay:
        # payload fetch for the k×|queries| winners only: broadcast the
        # tiny result side against the collection scan
        topk = embeddings.select(id_col, *pay).join(F.broadcast(topk), id_col)
    return topk.select(
        "qid", id_col, *pay, round6(F.col("score")).alias("score")
    ).orderBy("qid", F.col("score").desc(), F.col(id_col).asc())


def nsw_graph_rows(
    embeddings: DataFrame,
    n_buckets: int | None = 4,
    M: int = NSW_M,
    ef_construction: int = NSW_EF_CONSTRUCTION,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    bucket_offset: int = 0,
) -> DataFrame:
    """Build the per-bucket NSW graphs as ROWS (id, embedding, _b,
    neighbors ARRAY<BIGINT>) without writing — the shared kernel of
    :func:`nsw_index_write` (base build) and the catalog's
    refresh_nsw_index (delta SEGMENTS: ``bucket_offset`` shifts the
    bucket ids so a refresh's graphs land in fresh ``_b`` partitions
    that never collide with earlier segments'). Neighbor lists store
    ids (not positions), so the layout survives re-reads in any row
    order and the search kernel silently drops references to rows a
    later mask filtered out."""

    def build(pdf):
        pdf, X = _bucket_arrays(pdf, id_col, emb_col)
        adj = _nsw_build(X, M=M, ef=ef_construction)
        ids = pdf[id_col].to_numpy()
        pdf = pdf.copy()
        pdf["neighbors"] = [[int(ids[j]) for j in row] for row in adj]
        return pdf

    n_buckets = _resolve_nsw_buckets(n_buckets, embeddings)
    bucketed = embeddings.select(
        id_col,
        emb_col,
        (
            F.pmod(F.xxhash64(F.col(id_col)), n_buckets)
            + F.lit(int(bucket_offset))
        ).cast("int").alias("_b"),
    )
    out_schema = f"{id_col} long, {emb_col} array<float>, _b int, neighbors array<long>"
    return bucketed.groupBy("_b").applyInPandas(build, out_schema)


def nsw_merge_graph_rows(
    layout: DataFrame,
    M: int = NSW_M,
    ef_construction: int = NSW_EF_CONSTRUCTION,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """CONSOLIDATE a masked multi-segment NSW layout into single-segment
    base graphs — the Lucene merge-policy analogue (r10 verdict
    directive 5): instead of rebuilding all N rows when accumulated
    churn degrades the graph, each base bucket's EXISTING adjacency is
    kept and only the delta segments' live rows (plus base nodes the
    masks damaged) re-insert into it via the same chunked beam kernel
    the build uses (:func:`_nsw_insert_from`). At 0.5 delta fraction
    this re-inserts ~1/3 of the corpus instead of re-training 100%.

    Input: live rows of a segmented layout (the catalog's masked view —
    (id, embedding, _b, neighbors, __seg), one row per live id).
    Output: (id, embedding, _b, neighbors) rows over the BASE bucket
    range only, mask fully baked in — the caller stamps ``__seg = 0``
    and swaps the layout.

    Mechanics per home bucket (base rows keep their ``_b``; delta rows
    hash to ``pmod(xxhash64(id), n_base_buckets)`` — the same rule the
    base build used, so an updated id returns to its old bucket):

    - base adjacency is filtered to surviving ids (masked-out neighbor
      references — which search today routes around — are dropped for
      good);
    - a base node that LOST neighbors to the mask and fell under degree
      M//2 is DEMOTED and re-inserted like a delta row: deletions damage
      exactly the nodes whose links died, and re-inserting them restores
      their connectivity without touching the healthy majority (this is
      what bounds the recall gap to a rebuild under delete-heavy churn).
      The threshold is M//2, not M: mean NSW degree sits near 1.4·M (not
      m_max), so an M threshold demoted ~57% of survivors after a 27%
      mask — nearly a rebuild (measured while building this, 90% of
      rebuild cost) — while every insertion also BACKLINKS into ~M
      surviving nodes, re-healing moderate damage for free; only
      genuinely gutted nodes (< M//2 links left) need the re-insert;
    - kept base nodes occupy insertion positions 0..n0-1 in id order
      (the build's deterministic order), re-inserted rows follow in id
      order — deterministic end to end.

    A home bucket whose base rows all died builds from scratch (the
    degenerate case IS a rebuild, locally).

    Two levers keep the <50%-of-rebuild contract honest (profiled at the
    1M stress shape while building this):

    - insert beam = max(2·M, ef_construction // 2): re-inserting into a
      COMPLETE graph needs a narrower beam than from-scratch
      construction, where early inserts shape the topology the rest
      depends on — the finished base already routes candidates well.
      Halved beam = ~2× faster inserts at equal merged-graph recall
      (gated in the stress tool and test_catalog's rebuild-parity test).
    - groups are pre-partitioned 4×wider than the bucket count so the
      applyInPandas stage doesn't stack several ~7s bucket kernels onto
      one shuffle partition (40 buckets into 32 default partitions put
      3 on the straggler — a wave of pure wait)."""
    base_max = (
        layout.filter(F.col("__seg") == 0).agg(F.max("_b").alias("m")).collect()[0]["m"]
    )
    if base_max is None:
        raise ValueError(
            "nsw_merge_graph_rows: no live base rows — consolidation "
            "has nothing to merge into; run a full rebuild"
        )
    nb = int(base_max) + 1
    m_max = 2 * M
    ef_insert = max(2 * M, ef_construction // 2)

    homed = layout.select(
        id_col,
        emb_col,
        "neighbors",
        "__seg",
        F.when(F.col("__seg") == 0, F.col("_b"))
        .otherwise(F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)))
        .cast("int")
        .alias("__home"),
    ).repartition(min(4 * nb, 4096), "__home")

    def merge(pdf):
        home = int(pdf["__home"].iloc[0])
        base = (
            pdf[pdf["__seg"] == 0]
            .sort_values(id_col, kind="mergesort")
            .reset_index(drop=True)
        )
        delta = pdf[pdf["__seg"] > 0]
        surv = {int(v) for v in base[id_col].to_numpy()}
        # pass 1: demotion — a base node the masks gutted (under M//2
        # surviving links) re-inserts; moderately damaged nodes keep
        # their links and are re-healed by insertion backlinks. Iterated
        # to a FIXPOINT (r11 review): demoting a node removes its edges
        # from the kept graph, which can gut a neighbor that lost
        # nothing to the mask directly — without the cascade such a
        # node would keep zero outgoing links (and, wiring being
        # bidirectional, zero incoming) and silently disconnect. The
        # cascade converges in a handful of passes (each demotes at
        # least one node or stops); total demotion degenerates to a
        # local from-scratch rebuild, which is then the correct plan.
        demote_floor = max(1, M // 2)
        neigh_rows = base["neighbors"].to_numpy()
        demote = np.zeros(len(base), dtype=bool)
        live_ids = set(surv)
        changed = True
        while changed:
            changed = False
            for i, row in enumerate(neigh_rows):
                if demote[i]:
                    continue
                kept_n = sum(1 for nb_ in row if int(nb_) in live_ids)
                if kept_n < len(row) and kept_n < demote_floor:
                    demote[i] = True
                    live_ids.discard(int(base[id_col].iat[i]))
                    changed = True
        kept = base[~demote].reset_index(drop=True)
        kept_ids = kept[id_col].to_numpy()
        pos = {int(v): i for i, v in enumerate(kept_ids)}
        # pass 2: kept adjacency → positions, edges into dead/demoted
        # ids dropped (re-insertion re-wires them bidirectionally)
        adj0 = [
            [pos[int(nb_)] for nb_ in row if int(nb_) in pos]
            for row in kept["neighbors"].to_numpy()
        ]
        ins = (
            pd.concat([base[demote], delta])
            .sort_values(id_col, kind="mergesort")
            .reset_index(drop=True)
        )
        all_pdf = pd.concat(
            [kept[[id_col, emb_col]], ins[[id_col, emb_col]]]
        ).reset_index(drop=True)
        X = np.stack(all_pdf[emb_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        X = X / np.where(norms == 0, 1.0, norms)
        n, n0 = len(all_pdf), len(kept)
        if n0 == 0:
            # degenerate local rebuild: construction beam, not the
            # narrowed insert beam — there is no base topology to lean on
            adj = _nsw_build(X, M=M, ef=ef_construction)
        else:
            A = np.zeros((n, m_max + 1), dtype=np.int32)
            deg = np.zeros(n, dtype=np.int32)
            for i, row in enumerate(adj0):
                A[i, : len(row)] = row
                deg[i] = len(row)
            _nsw_insert_from(
                X, A, deg, start=n0, M=M, ef=ef_insert, m_max=m_max
            )
            adj = [A[i, : deg[i]].tolist() for i in range(n)]
        ids_all = all_pdf[id_col].to_numpy()
        out = all_pdf.copy()
        out["_b"] = home
        out["neighbors"] = [[int(ids_all[j]) for j in row] for row in adj]
        return out

    out_schema = (
        f"{id_col} long, {emb_col} array<float>, _b int, neighbors array<long>"
    )
    return homed.groupBy("__home").applyInPandas(merge, out_schema)


def nsw_index_write(
    embeddings: DataFrame,
    path: str,
    n_buckets: int | None = 4,
    M: int = NSW_M,
    ef_construction: int = NSW_EF_CONSTRUCTION,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Materialize the per-bucket NSW graphs as a bucket-partitioned
    Parquet layout: (vec_id, embedding, neighbors ARRAY<BIGINT>) under
    ``_b=<bucket>/`` dirs — the build-once-at-ingest half of the graph
    index. Neighbor lists store ids (not positions), so the layout
    survives re-reads in any row order; adjacency adds ≤ 2M longs per
    row (~128 bytes next to a 256-byte vector at the defaults). Searches
    never rebuild anything; every bucket is searched per query batch (a
    query's neighbors can live in ANY bucket — the partitioning is for
    parallelism and per-executor memory sizing, not pruning), with the
    per-bucket work bounded by the beam, not the bucket size."""
    built = nsw_graph_rows(
        embeddings,
        n_buckets=n_buckets,
        M=M,
        ef_construction=ef_construction,
        id_col=id_col,
        emb_col=emb_col,
    )
    built.write.mode("overwrite").partitionBy("_b").parquet(path)


def nsw_search_layout(
    layout: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    ef: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Beam-search an NSW graph LAYOUT (any DataFrame of (id, embedding,
    _b, neighbors) rows — raw parquet, or the catalog's masked multi-
    segment view): each bucket partition loads its (vectors, adjacency)
    columns, maps stored neighbor ids back to positions, and runs the
    same beam as the fused operator — paying ZERO build cost per query
    batch. Entry point is the bucket's minimum id (the fused build's
    first-inserted node), so results are identical to nsw_knn over the
    same corpus. All buckets are searched and their top-k merge (the
    layout is a parallelism unit, not a pruning key) — which is exactly
    why refresh SEGMENTS compose: a delta segment's buckets are just
    more buckets in the same merge, the Lucene multi-segment search
    model. Neighbor ids referencing rows the mask removed are dropped
    at position-mapping time; the beam simply routes around them (the
    documented small-delta recall trade, gated in tests)."""
    if not queries:
        return layout.select(
            F.lit(0).cast("long").alias("qid"), id_col, F.lit(0.0).alias("score")
        ).limit(0)
    qids, qmat = _normalize_queries(queries)

    def search(pdf):
        pdf, X = _bucket_arrays(pdf, id_col, emb_col)
        pos = {int(v): i for i, v in enumerate(pdf[id_col].to_numpy())}
        adj = [
            [pos[int(nb)] for nb in row if int(nb) in pos]
            for row in pdf["neighbors"].to_numpy()
        ]
        return _search_bucket(
            pdf, X, adj, qids, qmat, k, _auto_ef(ef, len(pdf)), id_col
        )

    per = layout.select(id_col, emb_col, "_b", "neighbors").groupBy(
        "_b"
    ).applyInPandas(search, f"qid long, {id_col} long, score double")
    return _merge_bucket_topk(per, k, id_col).select(
        "qid", id_col, round6(F.col("score")).alias("score")
    ).orderBy("qid", F.col("score").desc(), F.col(id_col).asc())
