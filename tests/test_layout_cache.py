"""Per-generation reuse of ANN index layout relations.

A search resolves its index's layout relation (file listing, schema,
mask join) once per index generation and keeps it on the Catalog; every
write of ``_index_meta.json`` mints a new ``generation`` token. The
collection here has 40 IVF cells, above Spark's 32-path threshold for
parallel partition discovery, so a cold layout read launches its own
listing job and a warm one must not.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pytest

from vector_database_spark.catalog import Catalog

N_POINTS = 800
N_CELLS = 40
DIM = 8


def _vec(i: int, bump: float = 0.0) -> list[float]:
    return [((i * 977 + j * 131) % 1009) / 504.0 - 1.0 + bump for j in range(DIM)]


def _points(spark, ids, bump: float = 0.0):
    return spark.createDataFrame(
        [(i, _vec(i, bump), {"i": str(i)}) for i in ids],
        "id long, embedding array<float>, payload map<string,string>",
    )


def _run_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs launched).

    The status tracker hears of jobs through the asynchronous listener
    bus, which delivers in order: once a later sentinel job is visible,
    every job ``fn`` launched is too."""
    sc = spark.sparkContext
    group = f"layout-cache-{uuid.uuid4().hex}"
    sentinel = group + "-sentinel"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(sentinel, sentinel)
        sc.parallelize([0], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "listener bus never caught up"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def _ids(rows) -> list[tuple[int, float]]:
    return [(r["id"], r["score"]) for r in rows]


def _meta(path: str) -> dict:
    with open(os.path.join(path, "_index_meta.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def ivf(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("layout_cache")))
    col = cat.create_collection("lc", dim=DIM, auto_compact=False)
    col.upsert(_points(spark, range(N_POINTS)))
    col.build_ivf_index(n_centroids=N_CELLS)
    return cat, col


def test_warm_ivf_search_skips_layout_listing(spark, ivf):
    """The second search of one index generation reuses the cached
    relation: fewer jobs than the cold first search, rows identical to a
    read with the cache bypassed, and the plan still prunes cells."""
    from vector_database_spark.operators import ann

    cat, col = ivf
    col.build_ivf_index(n_centroids=N_CELLS)  # cold: nothing cached yet
    assert col._ivf_index_path not in cat._layouts
    assert col.index_status()["ivf"]["layout_cached"] is False
    q = _vec(7, 0.01)

    cold, cold_jobs = _run_in_group(
        spark, lambda: col.search_ivf(q, limit=5).collect()
    )
    assert col.index_status()["ivf"]["layout_cached"] is True
    warm, warm_jobs = _run_in_group(
        spark, lambda: col.search_ivf(q, limit=5).collect()
    )
    assert warm_jobs < cold_jobs, (cold_jobs, warm_jobs)

    meta = _meta(col._ivf_index_path)
    bypassed = ann.ivf_knn(
        col._ivf_layout_df(),  # no meta: read uncached
        np.asarray(meta["centroids"], dtype=float),
        q,
        k=5,
        id_col="id",
        emb_col="embedding",
        payload_cols=("payload",),
    ).collect()
    assert _ids(warm) == _ids(cold) == _ids(bypassed)

    plan = col.search_ivf(q, limit=5)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:200]


def test_rebuild_at_same_version_relists(spark, ivf):
    """A rebuild at the same version with seeded KMeans writes a meta
    identical apart from its token over NEW part files. When another
    handle (as another process would) rebuilds, the search after it must
    read the new files, not the cached listing of deleted ones."""
    cat, col = ivf
    q = _vec(11, 0.01)
    before = _ids(col.search_ivf(q, limit=5, nprobe=N_CELLS).collect())
    meta_before = _meta(col._ivf_index_path)
    Catalog(spark, cat.root).collection("lc").build_ivf_index(n_centroids=N_CELLS)
    assert col.index_status()["ivf"]["layout_cached"] is False
    meta_after = _meta(col._ivf_index_path)
    assert meta_after["generation"] != meta_before["generation"]
    meta_before.pop("generation")
    meta_after.pop("generation")
    assert meta_after == meta_before  # a content key would collide here
    after = _ids(col.search_ivf(q, limit=5, nprobe=N_CELLS).collect())
    exact = _ids(col.search(q, limit=5).collect())
    assert after == before == exact


def test_refresh_and_consolidate_serve_new_ids(spark, ivf):
    """Writes after a cached search reach the index through another
    handle's refresh_ivf_index, through crash-retries of that refresh on
    this handle (the second re-mints the first's token over new segment
    files), and after consolidate_ivf_index."""
    cat, col = ivf
    new_ids = (N_POINTS, N_POINTS + 19)

    def serves_new_ids(step):
        for i in new_ids:
            got = [
                r["id"]
                for r in col.search_ivf(
                    _vec(i, 0.003), limit=1, nprobe=N_CELLS
                ).collect()
            ]
            assert got == [i], (step, i, got)

    def roll_back_and_refresh():
        with open(os.path.join(col._ivf_index_path, "_index_meta.json"), "w") as fh:
            json.dump(pre, fh)  # the commit never happened
        assert col.refresh_ivf_index() == 20
        return _meta(col._ivf_index_path)

    col.search_ivf(_vec(1), limit=1).collect()  # cache this generation
    other = Catalog(spark, cat.root).collection("lc")
    other.upsert(_points(spark, range(N_POINTS, N_POINTS + 20), bump=0.003))
    pre = _meta(col._ivf_index_path)
    assert other.refresh_ivf_index() == 20
    serves_new_ids("refreshed by another handle")
    by_other = _meta(col._ivf_index_path)

    retried = roll_back_and_refresh()
    assert retried["generation"] != by_other["generation"]
    serves_new_ids("retried")
    assert roll_back_and_refresh() == retried  # same handle, same token
    serves_new_ids("retried again")

    assert col.consolidate_ivf_index() == N_POINTS + 20
    serves_new_ids("consolidated")


def test_legacy_meta_without_token_reads_uncached(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "legacy"))
    col = cat.create_collection("lg", dim=DIM)
    col.upsert(_points(spark, range(100)))
    col.build_ivf_index(n_centroids=4)
    meta = _meta(col._ivf_index_path)
    meta.pop("generation")
    with open(os.path.join(col._ivf_index_path, "_index_meta.json"), "w") as fh:
        json.dump(meta, fh)
    for _ in range(2):
        got = [r["id"] for r in col.search_ivf(_vec(5), limit=1, nprobe=4).collect()]
        assert got == [5]
    assert cat._layouts == {}
    assert col.index_status()["ivf"]["layout_cached"] is False


def test_repeated_build_search_cycles_hold_one_entry(spark, tmp_path):
    """Ten build/search cycles on one Catalog keep exactly one cached
    layout for the index, and it is the current generation's; dropping
    the collection, or folding it to empty, releases it."""
    cat = Catalog(spark, str(tmp_path / "cycles"))
    col = cat.create_collection("cy", dim=DIM)
    col.upsert(_points(spark, range(60)))
    for _ in range(10):
        col.build_ivf_index(n_centroids=4)
        col.search_ivf(_vec(3), limit=1).collect()
    assert list(cat._layouts) == [col._ivf_index_path]
    assert cat._layouts[col._ivf_index_path][0] == _meta(col._ivf_index_path)["generation"]

    cat.drop_collection("cy")
    assert cat._layouts == {}

    col = cat.create_collection("empty", dim=DIM)
    col.upsert(_points(spark, range(30)))
    col.build_ivf_index(n_centroids=4)
    col.search_ivf(_vec(3), limit=1).collect()
    assert list(cat._layouts) == [col._ivf_index_path]
    col.delete(point_ids=list(range(30)))
    assert col.compact() is True
    assert cat._layouts == {}
    assert not os.path.exists(col._ivf_index_path)


def test_lsh_layout_reused_across_searches(spark, tmp_path):
    """The shared masked-layout path serves a second family: a warm LSH
    search launches fewer jobs than the cold one and matches an uncached
    read, including after a refresh adds a masked segment."""
    from vector_database_spark.operators import ann

    cat = Catalog(spark, str(tmp_path / "lsh"))
    col = cat.create_collection("ls", dim=DIM, auto_compact=False)
    col.upsert(_points(spark, range(300)))
    col.build_lsh_index(bits=6, tables=2)
    q = _vec(9, 0.01)
    for rebuilt_by in ("build", "refresh"):
        cold, cold_jobs = _run_in_group(
            spark, lambda: col.search_lsh(q, limit=5).collect()
        )
        warm, warm_jobs = _run_in_group(
            spark, lambda: col.search_lsh(q, limit=5).collect()
        )
        assert warm_jobs < cold_jobs, (rebuilt_by, cold_jobs, warm_jobs)
        bypassed = ann.lsh_knn_pruned_df(
            col._lsh_layout_df(),
            q,
            k=5,
            bits=6,
            tables=2,
            id_col="id",
            emb_col="embedding",
            payload_cols=("payload",),
        ).collect()
        assert _ids(warm) == _ids(cold) == _ids(bypassed), rebuilt_by
        if rebuilt_by == "build":
            col.upsert(_points(spark, [9], bump=0.01))  # now an exact match
            assert col.refresh_lsh_index() == 2
    assert _ids(warm)[0][0] == 9
