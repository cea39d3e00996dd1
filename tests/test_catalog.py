"""Engine API tests: catalog DDL + upsert/search lifecycle (SURVEY §2.A/§2.B).

Known-answer tests mirroring the reference semantics:
  - create is idempotent, recreate with different dim errors (vector_db.py:20-24)
  - upsert replaces by id, latest wins (vector_db.py:94-106)
  - search returns ordered (id, score, payload), respects metric + filter
    (vector_db_query.py:78-89)
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from vector_database_spark.catalog import Catalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "collections"))


def _points(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], {"label": str(lbl)}) for i, v, lbl in rows],
        "id long, embedding array<float>, payload map<string,string>",
    )


def test_create_exists_idempotent(catalog):
    assert not catalog.collection_exists("c1")
    catalog.create_collection("c1", dim=4)
    assert catalog.collection_exists("c1")
    catalog.create_collection("c1", dim=4)  # no-op like vector_db.py:20
    assert catalog.list_collections() == ["c1"]
    with pytest.raises(ValueError, match="cannot recreate"):
        catalog.create_collection("c1", dim=8)


def test_near_duplicates_flags_incoming_dups_only(catalog, spark):
    """Ingest-time semantic dedup against the live view: a planted copy
    of a live vector is flagged, a fresh direction is not, and the
    documented anti-join recipe upserts only the fresh points."""
    from pyspark.sql import functions as F

    col = catalog.create_collection("cdup", dim=4)
    col.upsert(
        _points(
            spark,
            [(1, [1, 0, 0, 0], "a"), (2, [0, 1, 0, 0], "b"),
             (3, [0.6, 0.8, 0, 0], "c")],
        )
    )
    batch = _points(
        spark,
        [(10, [1, 0, 0, 0], "copy-of-1"),       # exact dup of live id 1
         (11, [0, 0, 0.8, 0.6], "fresh"),       # new direction
         # near-dup of id 1 with the SAME sign pattern (only comp 0
         # positive) — a positive perturbation would flip a sign bit and
         # land one bucket away, the documented recall trade
         (12, [0.99, 0, -0.1, 0], "near-1")],   # cos vs id 1 ≈ 0.995
    )
    dups = col.near_duplicates(batch)
    got = {(r["batch_id"], r["corpus_id"]) for r in dups.collect()}
    assert (10, 1) in got
    assert (12, 1) in got  # same sign bucket, cos above threshold
    assert all(b != 11 for b, _ in got)
    assert all(c in (1, 2, 3) for _, c in got)  # corpus side only
    # the recipe from the docstring
    fresh = batch.join(
        dups.select(F.col("batch_id").alias("id")).distinct(), "id", "left_anti"
    )
    col.upsert(fresh)
    assert col.count() == 4  # 3 live + only the fresh arrival
    assert col.get(11) is not None and col.get(10) is None
    # SELF-PAIRS are reported (documented): an exact same-id replay is a
    # duplicate; update-friendly pipelines filter batch_id != corpus_id
    replay = _points(spark, [(1, [1, 0, 0, 0], "a")])
    self_pairs = {
        (r["batch_id"], r["corpus_id"])
        for r in col.near_duplicates(replay).collect()
    }
    assert (1, 1) in self_pairs
    # the indexed path refuses scan-only knobs instead of ignoring them
    with pytest.raises(ValueError, match="n_bucket_words"):
        col.near_duplicates(replay, n_bucket_words=2, use_index=True)


def test_near_duplicates_indexed_probes_lsh_layout(catalog, spark):
    """use_index=True: the batch hashes with the index's pinned
    hyperplanes and joins the persisted (table, sig) layout — exact
    duplicates collide in EVERY table so they are always found; the
    coverage contract raises on a stale index."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    col = catalog.create_collection("cdupix", dim=4)
    rows = [(i, [float(i % 3 + 1), float(i % 5), -1.0, 0.5], str(i)) for i in range(40)]
    col.upsert(_points(spark, rows))
    col.build_lsh_index()
    batch = _points(
        spark,
        [(100, [1.0, 0.0, -1.0, 0.5], "copy-of-3?"),  # dup of id pattern
         (101, [9.0, 9.0, 9.0, 9.0], "fresh")],
    )
    # make planted copies verbatim from live rows
    copies = col.df().filter(F.col("id") < 5).select(
        (F.col("id") + 200).alias("id"), "embedding",
        F.col("payload"),
    )
    batch = batch.unionByName(copies)
    dups = col.near_duplicates(batch, use_index=True)
    got = {(r["batch_id"], r["corpus_id"]) for r in dups.collect()}
    for i in range(5):
        assert (i + 200, i) in got  # exact copies always collide
    # every reported pair verified: cos >= threshold against the scan path
    from vector_database_spark.operators import dedup as _dedup

    for r in dups.collect():
        assert r["cos"] >= _dedup.COSINE_NEARDUP_THRESHOLD
    # staleness: a write after the build invalidates the probe
    col.upsert(_points(spark, [(300, [0.5, 0.5, 0.5, 0.5], "w")]))
    with _pytest.raises(Exception, match="stale|refresh|rebuild"):
        col.near_duplicates(batch, use_index=True).collect()
    # refresh re-covers; the planted copies are still found
    col.refresh_lsh_index()
    got2 = {
        (r["batch_id"], r["corpus_id"])
        for r in col.near_duplicates(batch, use_index=True).collect()
    }
    for i in range(5):
        assert (i + 200, i) in got2


def test_dim_validation_on_upsert(catalog, spark):
    col = catalog.create_collection("c2", dim=4)
    with pytest.raises(ValueError, match="dimension mismatch"):
        col.upsert(_points(spark, [(1, [1, 2, 3], 0)]))
    # a failed upsert must not burn a catalog version
    assert catalog.collection("c2").info.version == 0


def test_zero_norm_vector_rejected(catalog, spark):
    col = catalog.create_collection("c2z", dim=2)
    with pytest.raises(ValueError, match="zero-norm"):
        col.upsert(_points(spark, [(1, [0, 0], 0)]))
    # valid vectors still ingest afterwards, at version 1
    col.upsert(_points(spark, [(2, [1, 0], 0)]))
    assert col.count() == 1 and col.info.version == 1


def test_upsert_latest_wins_and_compact(catalog, spark):
    col = catalog.create_collection("c3", dim=2)
    col.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1)]))
    col.upsert(_points(spark, [(2, [1, 1], 9)]))  # replaces id=2
    state = {r["id"]: r["payload"]["label"] for r in col.df().collect()}
    assert state == {1: "0", 2: "9"}
    assert col.count() == 2
    col.compact()
    assert {r["id"]: r["payload"]["label"] for r in col.df().collect()} == state


def test_search_cosine_known_answers(catalog, spark):
    col = catalog.create_collection("c4", dim=2)
    col.upsert(
        _points(spark, [(1, [1, 0], 0), (2, [0, 1], 1), (3, [-1, 0], 2), (4, [1, 0.001], 3)])
    )
    res = col.search([1.0, 0.0], limit=4).collect()
    assert [r["id"] for r in res] == [1, 4, 2, 3]
    assert res[0]["score"] == 1.0       # parallel → cosine 1
    assert res[2]["score"] == 0.0       # orthogonal → cosine 0
    assert res[3]["score"] == -1.0      # opposite → cosine -1


def test_search_metrics_and_filter(catalog, spark):
    col = catalog.create_collection("c5", dim=2, metric="euclid")
    col.upsert(_points(spark, [(1, [0, 0], 0), (2, [3, 4], 1), (3, [1, 1], 0)]))
    res = col.search([0.0, 0.0], limit=3).collect()
    assert [r["id"] for r in res] == [1, 3, 2]
    assert res[2]["score"] == 5.0  # 3-4-5 triangle
    # filtered k-NN: payload predicate applied BEFORE ranking (B6)
    res = col.search(
        [0.0, 0.0], limit=3, payload_filter=F.col("payload")["label"] == "0"
    ).collect()
    assert [r["id"] for r in res] == [1, 3]
    # dot metric on the same collection
    res = col.search([1.0, 1.0], limit=1, metric="dot").collect()
    assert res[0]["id"] == 2 and res[0]["score"] == 7.0


def test_point_lookup_uses_partition_pruning(catalog, spark):
    col = catalog.create_collection("c7", dim=2)
    col.upsert(_points(spark, [(i, [i, i + 1], i % 3) for i in range(40)]))
    row = col.get(17)
    assert row is not None and row["id"] == 17
    assert col.get(999) is None
    # the bucket predicate must reach the scan as a partition filter
    from pyspark.sql import functions as F2

    pruned = col._raw_df().filter(F2.col("bucket") == 17 % col.N_BUCKETS)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]


def test_norm_materialized_at_ingest(catalog, spark):
    col = catalog.create_collection("c8", dim=2)
    col.upsert(_points(spark, [(1, [3, 4], 0)]))
    raw = col._raw_df().collect()[0]
    assert raw["norm"] == 5.0


def test_search_batch(catalog, spark):
    col = catalog.create_collection("c9", dim=2)
    col.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1), (3, [0.9, 0.1], 2)]))
    res = col.search_batch([(100, [1.0, 0.0]), (200, [0.0, 1.0])], limit=2)
    by_q = {}
    for r in res.collect():
        by_q.setdefault(r["qid"], []).append(r["id"])
    assert by_q[100] == [1, 3]
    assert by_q[200][0] == 2


def test_search_batch_two_phase_branch_identical(catalog, spark):
    """search_batch dispatches adaptively on cosine collections: forcing
    the two-phase heap branch (pair_row_budget=0) must return the same
    rows — ids, scores, AND map payloads through the Arrow pass — as the
    default window branch."""
    col = catalog.create_collection("c9b", dim=2)
    col.upsert(
        _points(
            spark,
            [(i, [1.0 + 0.01 * i, 0.5 - 0.01 * i], i % 3) for i in range(30)],
        )
    )
    qs = [(100, [1.0, 0.0]), (200, [0.0, 1.0])]
    window = col.search_batch(qs, limit=3)
    heap = col.search_batch(qs, limit=3, pair_row_budget=0)
    assert "MapInPandas" not in window._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in heap._jdf.queryExecution().executedPlan().toString()
    w = {(r["qid"], r["id"], r["score"], tuple(sorted(r["payload"].items())))
         for r in window.collect()}
    h = {(r["qid"], r["id"], r["score"], tuple(sorted(r["payload"].items())))
         for r in heap.collect()}
    assert w == h and len(w) == 6


def test_drop(catalog):
    catalog.create_collection("c6", dim=2)
    catalog.drop_collection("c6")
    assert not catalog.collection_exists("c6")

def _on_disk(catalog, name):
    """The directories in collection ``name``'s home; [] when it has none."""
    home = os.path.join(catalog.root, name)
    return sorted(os.listdir(home)) if os.path.isdir(home) else []


def _tree(root):
    """{relative path: bytes} of every file under ``root``."""
    out = {}
    for dp, _dirs, files in os.walk(root):
        for f in files:
            with open(os.path.join(dp, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dp, f), root)] = fh.read()
    return out


def test_drop_deletes_points_and_every_index(catalog, spark):
    """A collection dropped and created again under the same name is
    empty: no points, no tombstones, no index or mask of any family."""
    col = catalog.create_collection("dd", dim=8)
    rows = [
        (i, [((i * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)], i % 3)
        for i in range(40)
    ]
    col.upsert(_points(spark, rows[:20]))
    col.upsert(_points(spark, rows[20:]))
    col.delete(point_ids=[0])
    col.build_nsw_index(n_buckets=2)
    col.build_lsh_index(bits=6, tables=2)
    col.build_ivfpq_index(n_centroids=4, m=4, ksub=8)
    col.build_ivf_index(n_centroids=4)
    col.upsert(_points(spark, rows[:1]))
    assert col.refresh_ivf_index() == 1  # an IVF mask dir too
    assert all(st["exists"] for st in col.index_status().values())
    # what a consolidation that crashed before its swap leaves behind
    for kind in ("nsw", "ivf"):
        os.makedirs(col.path + f"__{kind}__consolidate_stage")
    catalog.update_aliases(create={"dd_alias": "dd"})

    catalog.drop_collection("dd")
    assert catalog.list_aliases() == {}
    assert _on_disk(catalog, "dd") == []
    col = catalog.create_collection("dd", dim=8)
    assert col.count() == 0
    assert not any(st["exists"] for st in col.index_status().values())


def test_drop_keeps_collection_whose_name_extends_it(catalog, spark):
    """``sb__ivf`` is where an IVF index of ``sb`` would live, but here
    it is a collection of its own: dropping and re-creating ``sb`` must
    leave it and its tombstones alone."""
    sib = catalog.create_collection("sb__ivf", dim=2)
    sib.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1)]))
    sib.delete(point_ids=[2])
    col = catalog.create_collection("sb", dim=2)
    col.upsert(_points(spark, [(3, [1, 1], 0)]))
    catalog.drop_collection("sb")
    catalog.create_collection("sb", dim=2)
    assert _on_disk(catalog, "sb") == []
    assert _on_disk(catalog, "sb__ivf") == ["points", "points__tombstones"]
    assert [r["id"] for r in catalog.collection("sb__ivf").df().collect()] == [1]


def test_collection_named_like_an_index_dir_coexists(catalog, spark):
    """A collection named ``x__ivf`` and the IVF index of ``x`` live in
    different homes: building the index leaves the collection's points
    alone, and dropping ``x`` leaves ``x__ivf`` intact."""
    sib = catalog.create_collection("x__ivf", dim=2)
    sib.upsert(_points(spark, [(i, [1, i], 0) for i in range(10)]))
    col = catalog.create_collection("x", dim=2)
    col.upsert(_points(spark, [(i, [i, 1], 0) for i in range(20, 26)]))
    col.build_ivf_index(n_centroids=2)
    assert catalog.collection("x__ivf").count() == 10
    catalog.drop_collection("x")
    assert catalog.collection("x__ivf").count() == 10
    assert _on_disk(catalog, "x__ivf") == ["points"]


def test_drop_deletes_what_a_crashed_refresh_or_consolidation_left(
    catalog, spark
):
    """A refresh that crashed leaves its ``__stage_seg<n>`` dir, a
    consolidation its ``__consolidate_stage`` dir; both go with the
    collection, so the name created again starts empty."""
    col = catalog.create_collection("cx", dim=2)
    col.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1), (3, [1, 1], 2)]))
    col.build_ivf_index(n_centroids=2)
    left = [col.path + "__ivf__stage_seg1", col.path + "__ivf__consolidate_stage"]
    for d in left:
        os.makedirs(d)
    catalog.drop_collection("cx")
    assert not any(os.path.exists(d) for d in left)
    col = catalog.create_collection("cx", dim=2)
    assert col.count() == 0
    assert not any(st["exists"] for st in col.index_status().values())


def test_names_of_the_catalogs_own_entries_are_refused(catalog, spark):
    """Names starting with ``_`` or ``.`` are the catalog's own (its JSON
    keys, ``_catalog.json``) or not one plain directory: creating or
    dropping one raises and leaves the catalog file byte-identical."""
    catalog.create_collection("docs", dim=3)
    catalog.update_aliases(create={"latest": "docs"})
    path = os.path.join(catalog.root, "_catalog.json")
    with open(path, "rb") as fh:
        before = fh.read()
    for bad in ("__aliases__", "_layout", "_catalog.json", ".hidden"):
        with pytest.raises(ValueError, match="invalid collection name"):
            catalog.create_collection(bad, dim=3)
        with pytest.raises(ValueError, match="invalid collection name"):
            catalog.drop_collection(bad)
        with open(path, "rb") as fh:
            assert fh.read() == before, bad
    assert catalog.list_aliases() == {"latest": "docs"}
    assert catalog.list_collections() == ["docs"]


def test_root_in_an_older_layout_is_refused_untouched(spark, tmp_path):
    """A root whose catalog holds collections but does not record its
    layout was written by an older version, which kept a collection's
    points directly in ``<root>/<name>`` and its other directories side
    by side at the root; opening it raises and changes no byte. A root
    whose catalog holds no collection opens, and records the layout."""
    old = str(tmp_path / "older")
    _points(spark, [(1, [1, 0], 0)]).select(
        "*", F.lit(1).cast("long").alias("version"), F.lit(1).alias("bucket")
    ).write.partitionBy("bucket").parquet(os.path.join(old, "docs"))
    with open(os.path.join(old, "_catalog.json"), "w") as fh:
        json.dump({"docs": {"dim": 2, "metric": "cosine", "version": 1}}, fh)
    before = _tree(old)
    with pytest.raises(ValueError, match="export_points"):
        Catalog(spark, old)
    assert _tree(old) == before

    empty = str(tmp_path / "no_collections")
    os.makedirs(empty)
    with open(os.path.join(empty, "_catalog.json"), "w") as fh:
        json.dump({"__aliases__": {}}, fh)
    Catalog(spark, empty).create_collection("fresh", dim=2)
    with open(os.path.join(empty, "_catalog.json")) as fh:
        assert json.load(fh)["_layout"] == "home-dir"
    assert Catalog(spark, empty).list_collections() == ["fresh"]


def test_drop_of_a_bad_or_unknown_name_deletes_nothing(catalog, spark):
    """A name that does not denote one entry of the catalog root is
    refused before anything is touched (``''`` would resolve to the root
    itself, ``..`` to its parent), and dropping an unknown name leaves
    even directories carrying that name alone."""
    col = catalog.create_collection("keep", dim=2)
    col.upsert(_points(spark, [(1, [1, 0], 0)]))
    os.makedirs(os.path.join(catalog.root, "ghost"))
    for bad in ("", ".", "..", "a/b", os.path.join(catalog.root, "keep")):
        with pytest.raises(ValueError, match="invalid collection name"):
            catalog.drop_collection(bad)
        with pytest.raises(ValueError, match="invalid collection name"):
            catalog.create_collection(bad, dim=2)
    catalog.drop_collection("ghost")
    assert sorted(os.listdir(catalog.root)) == [
        "_catalog.json", "_catalog.lock", "ghost", "keep"
    ]
    assert catalog.list_collections() == ["keep"]
    assert catalog.collection("keep").count() == 1


def test_create_clears_dirs_of_an_interrupted_drop(catalog, spark):
    """A drop that committed the catalog but died before its deletes
    leaves the data on disk; creating the name again must not read it."""
    col = catalog.create_collection("cr", dim=2)
    col.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1), (3, [1, 1], 2)]))
    col.delete(point_ids=[3])
    col.build_ivf_index(n_centroids=2)
    with catalog._lock():
        cat = catalog._load()
        del cat["cr"]
        catalog._save(cat)
    assert _on_disk(catalog, "cr") == ["points", "points__ivf", "points__tombstones"]
    col = catalog.create_collection("cr", dim=2)
    assert col.count() == 0
    assert not col.index_status()["ivf"]["exists"]
    assert _on_disk(catalog, "cr") == []


def test_delete_by_ids_and_resurrect(catalog, spark):
    col = catalog.create_collection("d1", dim=2)
    col.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1), (3, [1, 1], 2)]))
    col.delete(point_ids=[2])
    assert col.count() == 2
    assert col.get(2) is None
    assert {r["id"] for r in col.df().collect()} == {1, 3}
    # deleted points never appear in search results
    assert 2 not in {r["id"] for r in col.search([0.0, 1.0], limit=3).collect()}
    # a LATER upsert resurrects the id (write version > tombstone version)
    col.upsert(_points(spark, [(2, [0, 2], 9)]))
    assert col.get(2)["payload"]["label"] == "9"
    assert col.count() == 3


def test_delete_by_filter_and_compact(catalog, spark):
    col = catalog.create_collection("d2", dim=2)
    col.upsert(_points(spark, [(i, [1, i], i % 2) for i in range(10)]))
    col.delete(payload_filter=F.col("payload")["label"] == "1")
    assert col.count() == 5
    col.compact()  # folds tombstones away
    import os

    assert not os.path.exists(col._tombstone_path)
    assert col.count() == 5
    assert {r["id"] % 2 for r in col.df().collect()} == {0}
    with pytest.raises(ValueError, match="exactly one"):
        col.delete()


def test_set_payload_merges(catalog, spark):
    col = catalog.create_collection("p1", dim=2)
    col.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1)]))
    col.set_payload([2], {"flag": "reviewed"})
    rows = {r["id"]: r["payload"] for r in col.df().collect()}
    assert rows[2]["label"] == "1" and rows[2]["flag"] == "reviewed"
    assert "flag" not in rows[1]
    # merge overwrites existing keys, keeps the rest
    col.set_payload([2], {"label": "X"})
    rows = {r["id"]: r["payload"] for r in col.df().collect()}
    assert rows[2]["label"] == "X" and rows[2]["flag"] == "reviewed"


def test_scroll_keyset_pagination(catalog, spark):
    col = catalog.create_collection("s1", dim=2)
    col.upsert(_points(spark, [(i, [1, i], i % 3) for i in range(25)]))
    page1 = [r["id"] for r in col.scroll(limit=10).collect()]
    assert page1 == list(range(10))
    page2 = [r["id"] for r in col.scroll(limit=10, offset_id=page1[-1]).collect()]
    assert page2 == list(range(10, 20))
    page3 = [r["id"] for r in col.scroll(limit=10, offset_id=page2[-1]).collect()]
    assert page3 == list(range(20, 25))
    flt = [
        r["id"]
        for r in col.scroll(limit=5, payload_filter=F.col("payload")["label"] == "0").collect()
    ]
    assert flt == [0, 3, 6, 9, 12]


def test_recommend_average_vector(catalog, spark):
    col = catalog.create_collection("r1", dim=2)
    col.upsert(
        _points(
            spark,
            [
                (1, [1, 0], 0),     # positive example
                (2, [0.9, 0.1], 0),
                (3, [0, 1], 1),     # negative example
                (4, [0.8, -0.2], 0),
                (5, [-1, 0], 1),
            ],
        )
    )
    # query = avg({e1}) - avg({e3}) = (1,-1): nearest should be id=4
    res = col.recommend(positive=[1], negative=[3], limit=3).collect()
    ids = [r["id"] for r in res]
    assert ids[0] == 4
    # example points are excluded
    assert 1 not in ids and 3 not in ids
    with pytest.raises(KeyError, match="not found"):
        col.recommend(positive=[99])


def test_recommend_score_strategies(catalog, spark):
    import math

    col = catalog.create_collection("r2", dim=2)
    col.upsert(
        _points(
            spark,
            [
                (1, [1, 0], 0),      # positive example
                (2, [0, 1], 1),      # negative example
                (3, [1, 0.01], 0),   # near the positive
                (4, [0.01, 1], 1),   # near the negative
                (5, [-1, -1], 2),    # far from both
            ],
        )
    )
    for strategy in ("best_score", "sum_scores"):
        res = col.recommend(
            positive=[1], negative=[2], limit=3, strategy=strategy
        ).collect()
        ids = [r["id"] for r in res]
        assert ids[0] == 3, (strategy, res)     # positive-adjacent wins
        assert 1 not in ids and 2 not in ids    # examples excluded
    # best_score with a negative-dominated candidate: score = -bn^2
    res = {r["id"]: r["score"] for r in col.recommend(
        positive=[1], negative=[2], limit=3, strategy="best_score"
    ).collect()}
    bn4 = round(1 / math.sqrt(1 + 0.01**2), 6)  # cos([0.01,1],[0,1])
    assert math.isclose(res[4], round(-(bn4 * bn4), 6), abs_tol=2e-6)
    # negative-only is legal for the score-based strategies (Qdrant
    # parity). best_score = −bn²: the ORTHOGONAL candidate (cos 0) wins;
    # sum_scores = −Σcos: the OPPOSITE-direction candidate wins.
    res = col.recommend(negative=[2], limit=3, strategy="best_score").collect()
    assert [r["id"] for r in res][0] == 1
    res = col.recommend(negative=[2], limit=3, strategy="sum_scores").collect()
    assert [r["id"] for r in res][0] == 5
    # ...but not for average_vector
    with pytest.raises(ValueError, match="at least one positive"):
        col.recommend(negative=[2], strategy="average_vector")
    with pytest.raises(ValueError, match="unknown recommend strategy"):
        col.recommend(positive=[1], strategy="nope")
    with pytest.raises(ValueError, match="at least one example"):
        col.recommend(positive=[], strategy="best_score")


def test_time_travel_versions(catalog, spark):
    col = catalog.create_collection("tt1", dim=2)
    v1 = col.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1)]))
    v2 = col.upsert(_points(spark, [(2, [1, 1], 9)]))       # replace id=2
    v3 = col.delete(point_ids=[1])
    assert (v1, v2, v3) == (1, 2, 3)
    # current: id=1 deleted, id=2 at label 9
    assert {r["id"]: r["payload"]["label"] for r in col.df().collect()} == {2: "9"}
    # as of v2: both live, id=2 already replaced
    assert {r["id"]: r["payload"]["label"] for r in col.df(as_of_version=2).collect()} == {
        1: "0", 2: "9",
    }
    # as of v1: the original two rows
    assert {r["id"]: r["payload"]["label"] for r in col.df(as_of_version=1).collect()} == {
        1: "0", 2: "1",
    }
    # as of v0: empty collection
    assert col.df(as_of_version=0).count() == 0


def test_concurrent_lifecycle_fuzz_version_order_replay(spark, tmp_path):
    """Randomized CONCURRENT lifecycle fuzz (r9 session 2): three handles
    interleave upserts/deletes/compact/optimize on one collection on an
    overlapping id pool. Because every state mutation mints its version
    INSIDE the flock critical section (and compact/optimize are
    content-neutral for live state), the minted version sequence IS the
    true serialization order — so a single-threaded replay of the ops in
    version order predicts the exact final live state, however the
    threads actually interleaved. Catches lost updates, torn latest-wins
    resolution, duplicate version mints, and folds that drop concurrent
    commits. flock is per-open-fd, so same-process threads exercise the
    identical lock path a second process would."""
    import random
    from concurrent.futures import ThreadPoolExecutor

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_confuzz"))
    cat.create_collection("cf", dim=2)  # auto_compact ON — part of the fuzz

    def pts(tags):  # [(id, tag)] → frame; payload tag identifies the op
        return spark.createDataFrame(
            [(i, [1.0, float(i + 1)], {"tag": t}) for i, t in tags],
            "id long, embedding array<float>, payload map<string,string>",
        )

    events = []  # (version, kind, payload) — appended AFTER the op returns

    def work(seed):
        rng = random.Random(seed)
        col = cat.collection("cf")
        out = []
        for opno in range(6):
            roll = rng.random()
            if roll < 0.6:
                ids = rng.sample(range(12), rng.randint(1, 3))
                tag = f"t{seed}-{opno}"
                v = col.upsert(pts([(i, tag) for i in ids]))
                out.append((v, "upsert", [(i, tag) for i in ids]))
            elif roll < 0.85:
                ids = rng.sample(range(12), rng.randint(1, 2))
                v = col.delete(point_ids=ids)
                out.append((v, "delete", ids))
            elif roll < 0.95:
                col.compact()
            else:
                col.optimize()
        return out

    with ThreadPoolExecutor(3) as ex:
        futs = [ex.submit(work, s) for s in (11, 22, 33)]
        for f in futs:
            events.extend(f.result())

    versions = [v for v, _, _ in events]
    assert len(set(versions)) == len(versions), "duplicate version minted"

    # replay in version order → exact expected live state
    model: dict[int, str] = {}
    for v, kind, payload in sorted(events):
        if kind == "upsert":
            for i, tag in payload:
                model[i] = tag
        else:
            for i in payload:
                model.pop(i, None)
    got = {
        r["id"]: r["payload"]["tag"]
        for r in cat.collection("cf").df().select("id", "payload").collect()
    }
    assert got == model, f"live state diverged from version-order replay"


def test_concurrent_upserts_mint_distinct_versions(catalog, spark):
    """Two handles upserting concurrently must never mint the same version
    (the flock critical section around mint→write→bump)."""
    from concurrent.futures import ThreadPoolExecutor

    catalog.create_collection("cc1", dim=2)
    h1 = catalog.collection("cc1")
    h2 = catalog.collection("cc1")

    def work(handle, base):
        return [
            handle.upsert(_points(spark, [(base + i, [1, float(i + 1)], 0)]))
            for i in range(3)
        ]

    with ThreadPoolExecutor(2) as ex:
        f1 = ex.submit(work, h1, 100)
        f2 = ex.submit(work, h2, 200)
        v1, v2 = f1.result(), f2.result()
    versions = v1 + v2
    assert len(set(versions)) == 6, f"duplicate versions minted: {versions}"
    assert sorted(versions) == [1, 2, 3, 4, 5, 6]
    # every point ingested exactly once, all visible
    assert catalog.collection("cc1").count() == 6


def test_scroll_order_by_keyset(catalog, spark):
    col = catalog.create_collection("s2", dim=2)
    # rank payload value descends as id ascends -> order_by must invert id order
    col.upsert(
        _points(spark, [(i, [1, i], (24 - i) % 5) for i in range(25)])
    )
    page1 = col.scroll(limit=10, order_by="payload.label").collect()
    labels = [r["payload"]["label"] for r in page1]
    assert labels == sorted(labels)
    # composite keyset cursor resumes exactly after the last row (ties on
    # the order field are id-broken)
    last = page1[-1]
    page2 = col.scroll(
        limit=10,
        order_by="payload.label",
        offset_value=last["payload"]["label"],
        offset_id=last["id"],
    ).collect()
    all_keys = [(r["payload"]["label"], r["id"]) for r in page1 + page2]
    assert all_keys == sorted(all_keys)
    assert len({k for k in all_keys}) == 20  # no overlap between pages


def test_facet_counts_and_filter(catalog, spark):
    col = catalog.create_collection("f1", dim=2)
    col.upsert(_points(spark, [(i, [1, i], i % 3) for i in range(12)]))
    rows = col.facet("payload.label").collect()
    assert [(r["value"], r["count"]) for r in rows] == [
        ("0", 4), ("1", 4), ("2", 4),
    ]
    rows = col.facet("payload.label", payload_filter=F.col("id") < 4, limit=2).collect()
    assert [(r["value"], r["count"]) for r in rows] == [("0", 2), ("1", 1)]


def test_cluster_separates_two_groups(catalog, spark):
    # two tight planted groups far apart; k=2 over the live points must
    # recover them exactly, and upserts change the clustering input
    col = catalog.create_collection("km1", dim=2)
    pts = [(i, [1.0 + i * 1e-6, 0.5], 0) for i in range(6)] + [
        (10 + i, [9.0, 9.0 + i * 1e-6], 1) for i in range(6)
    ]
    col.upsert(_points(spark, pts))
    out = {r["id"]: r["cluster"] for r in col.cluster(k=2, rounds=2).collect()}
    assert len(out) == 12
    lo = {out[i] for i in range(6)}
    hi = {out[10 + i] for i in range(6)}
    assert len(lo) == 1 and len(hi) == 1 and lo != hi
    # payload filter restricts the clustered population
    only = col.cluster(k=2, rounds=1, payload_filter=F.col("id") < 6).collect()
    assert {r["id"] for r in only} == set(range(6))


def test_discover_context_pairs(catalog, spark):
    col = catalog.create_collection("d1", dim=2)
    col.upsert(
        _points(
            spark,
            [
                (0, [1, 0], 0),      # target
                (1, [1, 0.2], 0),    # positive example
                (2, [0, 1], 1),      # negative example
                (10, [0.9, 0.1], 0),   # x-axis candidate: wins the pair
                (11, [0.1, 0.9], 1),   # y-axis candidate: loses the pair
                (12, [0.7, 0.7], 2),   # diagonal: closer to pos than neg
            ],
        )
    )
    res = col.discover(target=0, context=[(1, 2)], limit=5).collect()
    ids = [r["id"] for r in res]
    # examples + target excluded; x-axis candidate ranks first
    assert set(ids) == {10, 11, 12}
    assert ids[0] == 10
    by_id = {r["id"]: r for r in res}
    assert by_id[10]["ctx_score"] == 1 and by_id[12]["ctx_score"] == 1
    assert by_id[11]["ctx_score"] == 0
    # raw-vector target: only context examples are excluded, so point 0
    # ([1,0], exactly the target direction) is a candidate and ranks first
    res2 = col.discover(target=[1.0, 0.0], context=[(1, 2)], limit=5).collect()
    assert [r["id"] for r in res2][:2] == [0, 10]
    with pytest.raises(KeyError, match="not found"):
        col.discover(target=0, context=[(1, 99)])


def test_delete_and_clear_payload(catalog, spark):
    col = catalog.create_collection("p2", dim=2)
    col.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1)]))
    col.set_payload([1, 2], {"flag": "x", "src": "web"})
    col.delete_payload([2], ["flag", "nope"])
    rows = {r["id"]: r["payload"] for r in col.df().collect()}
    assert "flag" not in rows[2] and rows[2]["src"] == "web"
    assert rows[1]["flag"] == "x"  # untouched point keeps its keys
    col.clear_payload([1])
    rows = {r["id"]: r["payload"] for r in col.df().collect()}
    assert rows[1] == {} and rows[2]["label"] == "1"


def test_update_vectors_keeps_payload(catalog, spark):
    col = catalog.create_collection("uv1", dim=2)
    col.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1)]))
    col.set_payload([1], {"flag": "keep"})
    upd = spark.createDataFrame(
        [(1, [0.5, 0.5])], "id long, embedding array<float>"
    )
    v = col.update_vectors(upd)
    assert v == col.info.version
    rows = {r["id"]: r for r in col.df().collect()}
    assert [round(x, 3) for x in rows[1]["embedding"]] == [0.5, 0.5]
    assert rows[1]["payload"]["flag"] == "keep"  # payload survives
    assert [round(x) for x in rows[2]["embedding"]] == [0, 1]
    with pytest.raises(KeyError, match="not found"):
        col.update_vectors(
            spark.createDataFrame([(99, [1.0, 1.0])], "id long, embedding array<float>")
        )


def test_aliases_atomic_swap(catalog, spark):
    c1 = catalog.create_collection("docs_v1", dim=2)
    c1.upsert(_points(spark, [(1, [1, 0], 0)]))
    catalog.update_aliases(create={"docs": "docs_v1"})
    assert catalog.list_aliases() == {"docs": "docs_v1"}
    assert catalog.collection("docs").count() == 1
    # aliases are not collections
    assert not catalog.collection_exists("docs")
    assert catalog.list_collections() == ["docs_v1"]
    # zero-downtime reindex: build v2, repoint the alias in one commit
    c2 = catalog.create_collection("docs_v2", dim=2)
    c2.upsert(_points(spark, [(1, [0, 1], 0), (2, [1, 1], 1)]))
    catalog.update_aliases(create={"docs": "docs_v2"})
    assert catalog.collection("docs").count() == 2
    assert catalog.collection_aliases("docs_v2") == ["docs"]
    assert catalog.collection_aliases("docs_v1") == []
    # deleting the target drops its aliases (no dangling names)
    catalog.drop_collection("docs_v2")
    assert catalog.list_aliases() == {}


def test_alias_validation(catalog):
    catalog.create_collection("real", dim=2)
    with pytest.raises(KeyError, match="target does not exist"):
        catalog.update_aliases(create={"a": "ghost"})
    with pytest.raises(ValueError, match="is a collection name"):
        catalog.update_aliases(create={"real": "real"})
    with pytest.raises(KeyError, match="no such alias"):
        catalog.update_aliases(delete=["missing"])
    catalog.update_aliases(create={"a": "real"})
    with pytest.raises(ValueError, match="is an alias"):
        catalog.create_collection("a", dim=2)


def test_snapshot_restore_roundtrip(catalog, spark):
    col = catalog.create_collection("snappy", dim=2, metric="dot")
    col.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1)]))
    snap = col.create_snapshot()
    assert col.list_snapshots() == {snap: 1}
    # diverge: overwrite id=2, add id=3, delete id=1
    col.upsert(_points(spark, [(2, [9, 9], 9), (3, [1, 1], 3)]))
    col.delete(point_ids=[1])
    assert {r["id"] for r in col.df().collect()} == {2, 3}
    col.restore_snapshot(snap)
    state = {r["id"]: [round(x) for x in r["embedding"]] for r in col.df().collect()}
    assert state == {1: [1, 0], 2: [0, 1]}
    # the restore is itself versioned: time travel still sees the divergence
    assert {r["id"] for r in col.df(as_of_version=2).collect()} == {1, 2, 3}


def test_snapshot_invalidated_by_compact(catalog, spark):
    col = catalog.create_collection("snapc", dim=2, metric="dot")
    col.upsert(_points(spark, [(1, [1, 0], 0)]))
    snap = col.create_snapshot()
    col.upsert(_points(spark, [(2, [0, 1], 1)]))
    col.compact()
    with pytest.raises(ValueError, match="predates compact"):
        col.restore_snapshot(snap)
    with pytest.raises(KeyError, match="no such snapshot"):
        col.restore_snapshot("ghost")


def test_multitenant_search_and_pruning(catalog, spark):
    col = catalog.create_collection("mt", dim=2, metric="dot", tenant_key="org")
    pts = spark.createDataFrame(
        [
            (1, [1.0, 0.0], {"org": "acme", "label": "a"}),
            (2, [0.0, 1.0], {"org": "acme", "label": "b"}),
            (3, [1.0, 1.0], {"org": "globex", "label": "c"}),
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    hits = col.search([1.0, 1.0], limit=10, tenant="acme")
    assert [r["id"] for r in hits.collect()] == [1, 2] or {
        r["id"] for r in hits.collect()
    } == {1, 2}
    # the tenant predicate must reach the scan as a partition filter
    # (pruning directories), not a post-scan Filter
    plan = hits._jdf.queryExecution().executedPlan().toString()
    part = plan[plan.index("PartitionFilters") :][:300]
    assert "tenant" in part
    # df() hides the physical routing column
    assert "tenant" not in col.df().columns
    # cross-tenant state is intact
    assert col.count() == 3
    with pytest.raises(ValueError, match="not multitenant"):
        catalog.create_collection("st", dim=2, metric="dot").search(
            [1.0, 0.0], tenant="acme"
        )


def test_multitenant_missing_tenant_rejected(catalog, spark):
    col = catalog.create_collection("mt2", dim=2, metric="dot", tenant_key="org")
    with pytest.raises(ValueError, match="missing tenant"):
        col.upsert(_points(spark, [(1, [1, 0], 0)]))  # payload lacks 'org'
    assert col.info.version == 0  # failed upsert burns no version
    with pytest.raises(ValueError, match="cannot recreate"):
        catalog.create_collection("mt2", dim=2, metric="dot")  # tenant_key differs


def test_manhattan_metric_search(catalog, spark):
    col = catalog.create_collection("l1", dim=2, metric="manhattan")
    col.upsert(
        _points(spark, [(1, [0, 0], 0), (2, [3, 3], 0), (3, [1, 0], 0)])
    )
    hits = col.search([0.0, 0.0], limit=3).collect()
    assert [r["id"] for r in hits] == [1, 3, 2]  # ascending L1 distance
    assert [round(r["score"], 6) for r in hits] == [0.0, 1.0, 6.0]


def test_batch_update_applies_in_order(catalog, spark):
    col = catalog.create_collection("batch", dim=2, metric="dot")
    v = col.batch_update(
        [
            ("upsert", _points(spark, [(1, [1, 0], 0), (2, [0, 1], 1)])),
            ("set_payload", [1], {"tag": "x"}),
            ("delete", [2]),
        ]
    )
    assert v == 3  # three ops, three versions, in order
    rows = {r["id"]: r for r in col.df().collect()}
    assert set(rows) == {1}
    assert rows[1]["payload"]["tag"] == "x"
    with pytest.raises(ValueError, match="unknown batch op"):
        col.batch_update([("upsert_all", None)])


def test_retrieve_and_projection_flags(catalog, spark):
    col = catalog.create_collection("proj", dim=2, metric="dot")
    col.upsert(_points(spark, [(1, [1, 0], 0), (2, [0, 1], 1), (3, [1, 1], 2)]))
    got = col.retrieve([1, 3])
    assert {r["id"] for r in got.collect()} == {1, 3}
    hits = col.search([1.0, 0.0], limit=2, with_payload=False, with_vector=True)
    assert hits.columns == ["id", "score", "embedding"]
    hits = col.search([1.0, 0.0], limit=2)
    assert hits.columns == ["id", "score", "payload"]


def test_recommend_lookup_from_other_collection(catalog, spark):
    exemplars = catalog.create_collection("exemplars", dim=2, metric="dot")
    exemplars.upsert(_points(spark, [(100, [1, 0], 0)]))
    corpus = catalog.create_collection("corpus", dim=2, metric="dot")
    corpus.upsert(
        _points(spark, [(1, [2, 0], 0), (2, [0, 2], 1), (100, [0, 3], 2)])
    )
    hits = corpus.recommend(positive=[100], limit=3, lookup_from=exemplars).collect()
    # query vector = exemplars' id 100 = [1,0]; corpus id 100 ([0,3], dot 0)
    # is NOT excluded — it is a different point than the exemplar
    assert [r["id"] for r in hits] == [1, 100, 2] or [r["id"] for r in hits][0] == 1
    assert len(hits) == 3
    mismatched = catalog.create_collection("wrongdim", dim=3, metric="dot")
    with pytest.raises(ValueError, match="lookup_from dim"):
        corpus.recommend(positive=[1], lookup_from=mismatched)


class TestQueryPointsFacade:
    """Qdrant 1.10+ universal Query API: one endpoint, every retrieval
    mode dispatched by query form (query_points)."""

    @pytest.fixture()
    def col(self, catalog, spark):
        c = catalog.create_collection("qp", dim=4)
        c.upsert(
            _points(
                spark,
                [
                    (1, [1, 0, 0, 0], 0),
                    (2, [0.9, 0.1, 0, 0], 0),
                    (3, [0, 1, 0, 0], 1),
                    (4, [0, 0.9, 0.1, 0], 1),
                    (5, [0, 0, 1, 0], 2),
                    (6, [0.5, 0.5, 0, 0], 2),
                ],
            )
        )
        return c

    def test_vector_query_equals_search(self, col):
        qv = [1.0, 0.0, 0.0, 0.0]
        a = [(r["id"], r["score"]) for r in col.query_points(qv, limit=3).collect()]
        b = [(r["id"], r["score"]) for r in col.search(qv, limit=3).collect()]
        assert a == b

    def test_point_id_query_excludes_self(self, col):
        got = [r["id"] for r in col.query_points(1, limit=3).collect()]
        assert 1 not in got
        assert got[0] == 2  # nearest other point to id=1

    def test_none_query_is_scroll(self, col):
        got = [r["id"] for r in col.query_points(limit=4).collect()]
        assert got == [1, 2, 3, 4]

    def test_recommend_dict_matches_method(self, col):
        q = {"recommend": {"positive": [1, 2], "negative": [5]}}
        a = [r["id"] for r in col.query_points(q, limit=2).collect()]
        b = [r["id"] for r in col.recommend([1, 2], [5], limit=2).collect()]
        assert a == b

    def test_recommend_dict_strategy_and_negative_only(self, col):
        # strategy flows through the facade kwargs; negative-only is
        # legal for the score-based strategies
        q = {"recommend": {"positive": [1], "negative": [5],
                           "strategy": "best_score"}}
        a = [r["id"] for r in col.query_points(q, limit=2).collect()]
        b = [r["id"] for r in
             col.recommend([1], [5], limit=2, strategy="best_score").collect()]
        assert a == b
        q = {"recommend": {"negative": [5], "strategy": "sum_scores"}}
        a = [r["id"] for r in col.query_points(q, limit=2).collect()]
        b = [r["id"] for r in
             col.recommend(negative=[5], limit=2,
                           strategy="sum_scores").collect()]
        assert a == b

    def test_sample_is_deterministic_exact_count(self, col):
        a = [r["id"] for r in col.query_points({"sample": "random"}, limit=3).collect()]
        b = [r["id"] for r in col.query_points({"sample": "random"}, limit=3).collect()]
        assert a == b and len(a) == 3

    def test_context_query_runs(self, col):
        q = {"context": [{"positive": 1, "negative": 5}]}
        rows = col.query_points(q, limit=3).collect()
        assert len(rows) == 3
        # ids 2 and 6 sit in the positive zone (closer to 1 than 5): max score 0
        best = {r["id"] for r in rows if r["ctx_micro"] == 0}
        assert 2 in best

    def test_prefetch_rerank_equals_exact_on_pool(self, col):
        qv = [1.0, 0.0, 0.0, 0.0]
        got = [
            r["id"]
            for r in col.query_points(
                qv,
                prefetch=[{"query": qv, "limit": 4}, {"query": 6, "limit": 4}],
                limit=3,
            ).collect()
        ]
        # rerank over the candidate pool by exact cosine = plain search
        # whenever the pool contains the true top-k
        exact = [r["id"] for r in col.search(qv, limit=3).collect()]
        assert got == exact

    def test_prefetch_fusion_rrf(self, col):
        fused = col.query_points(
            {"fusion": "rrf"},
            prefetch=[
                {"query": [1.0, 0.0, 0.0, 0.0], "limit": 3},
                {"query": [0.0, 1.0, 0.0, 0.0], "limit": 3},
            ],
            limit=4,
        ).collect()
        ids = [r["id"] for r in fused]
        assert len(ids) == 4
        # id=6 ranks high in BOTH legs → must fuse into the page
        assert 6 in ids

    def test_prefetch_fusion_dbsf(self, col):
        fused = col.query_points(
            {"fusion": "dbsf"},
            prefetch=[
                {"query": [1.0, 0.0, 0.0, 0.0], "limit": 3},
                {"query": [0.0, 1.0, 0.0, 0.0], "limit": 3},
            ],
            limit=4,
        ).collect()
        assert len(fused) == 4

    def test_unsupported_query_raises(self, col):
        with pytest.raises(ValueError, match="unsupported query form"):
            col.query_points({"nope": 1})

    def test_fusion_honors_payload_filter_and_returns_payload(self, col):
        from pyspark.sql import functions as F

        flt = F.col("payload.label") == "0"
        fused = col.query_points(
            {"fusion": "rrf"},
            prefetch=[
                {"query": [1.0, 0.0, 0.0, 0.0], "limit": 4},
                {"query": [0.0, 1.0, 0.0, 0.0], "limit": 4},
            ],
            payload_filter=flt,
            limit=4,
        ).collect()
        assert fused  # label '0' points (ids 1, 2) survive
        assert set(r["id"] for r in fused) <= {1, 2}
        assert all(r["payload"]["label"] == "0" for r in fused)

    def test_fusion_on_distance_metric_rewards_nearest(self, catalog, spark):
        c = catalog.create_collection("qp_l2", dim=2, metric="euclid")
        c.upsert(
            _points(
                spark,
                [(1, [0.0, 0.1], 0), (2, [0.0, 5.0], 0), (3, [5.0, 0.0], 0)],
            )
        )
        fused = c.query_points(
            {"fusion": "rrf"},
            prefetch=[{"query": [0.0, 0.0], "limit": 3}],
            limit=3,
            with_payload=False,
        ).collect()
        # nearest point (smallest distance) must fuse FIRST
        assert fused[0]["id"] == 1

    def test_prefetch_id_query_excludes_self(self, col):
        got = [
            r["id"]
            for r in col.query_points(
                1, prefetch=[{"query": 1, "limit": 4}], limit=3
            ).collect()
        ]
        assert 1 not in got and got[0] == 2

    def test_recommend_over_prefetch_restricts_to_pool(self, col):
        from pyspark.sql import functions as F

        # pool = top-3 around the x-axis → {1, 2, 6}; recommend with
        # positive=[3] then rescores ONLY that pool (3 itself is not in
        # the pool, and recommend excludes examples anyway)
        q = {"recommend": {"positive": [3]}}
        got = col.query_points(
            q, prefetch=[{"query": [1.0, 0.0, 0.0, 0.0], "limit": 3}], limit=6
        ).collect()
        ids = [r["id"] for r in got]
        assert set(ids) <= {1, 2, 6} and ids
        # equals plain recommend restricted to the same pool filter
        want = [
            r["id"]
            for r in col.recommend(
                positive=[3], limit=6,
                payload_filter=F.col("id").isin([1, 2, 6]),
            ).collect()
        ]
        assert ids == want

    def test_sample_over_prefetch_is_seeded_subset_of_pool(self, col):
        q = {"sample": "random"}
        pre = [{"query": [0.0, 1.0, 0.0, 0.0], "limit": 3}]
        a = [r["id"] for r in col.query_points(q, prefetch=pre, limit=2).collect()]
        b = [r["id"] for r in col.query_points(q, prefetch=pre, limit=2).collect()]
        pool = [
            r["id"]
            for r in col.query_points([0.0, 1.0, 0.0, 0.0], limit=3).collect()
        ]
        assert a == b and set(a) <= set(pool) and len(a) == 2

    def test_prefetch_requires_a_query(self, col):
        with pytest.raises(ValueError, match="needs a top-level query"):
            col.query_points(None, prefetch=[{"query": 1, "limit": 2}])
        with pytest.raises(ValueError, match="needs a top-level query"):
            col.query_points({"nope": 1}, prefetch=[{"query": 1, "limit": 2}])

    def test_prefetch_rejects_malformed_dict_payloads_before_legs(self, col):
        # a known mode key with a bad payload must fail the up-front shape
        # check, not execute every leg and then die in the recursion
        bad = [
            {"sample": "uniform"},
            {"fusion": "borda"},
            {"discover": {"target": 1}},  # missing context
            {"context": []},
            {"recommend": [1, 2]},  # not a dict
            {"recommend": {}},  # dict but neither positive nor negative
            {"recommend": {"strategy": "best_score"}},  # same, with noise
        ]
        for q in bad:
            with pytest.raises(ValueError, match="needs a top-level query"):
                col.query_points(q, prefetch=[{"query": 1, "limit": 2}])


def test_export_import_points_roundtrip(spark, tmp_path):
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.create_collection("exp_src", dim=4)
    src = cat.collection("exp_src")
    pts = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, 2.0], {"label": str(i % 3)}) for i in range(30)],
        "id long, embedding array<float>, payload map<string,string>",
    )
    src.upsert(pts)
    src.delete([5])

    path = str(tmp_path / "export")
    src.export_points(path)

    cat.create_collection("exp_dst", dim=4)
    dst = cat.collection("exp_dst")
    version = dst.import_points(path)
    assert version == 1
    assert dst.df().count() == 29  # the deleted point never leaves the source

    a = {r["id"]: (r["embedding"], dict(r["payload"])) for r in src.df().collect()}
    b = {r["id"]: (r["embedding"], dict(r["payload"])) for r in dst.df().collect()}
    assert a == b and 5 not in b


def test_reexport_does_not_resurrect_deleted_points(spark, tmp_path):
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat2"))
    cat.create_collection("rex", dim=2)
    col = cat.collection("rex")
    col.upsert(
        spark.createDataFrame(
            [(i, [1.0, float(i)], {"k": "v"}) for i in range(10)],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    path = str(tmp_path / "rex_export")
    col.export_points(path)
    col.delete([3, 4])
    # overwrite-mode export: the second generation fully replaces the
    # first, so the deleted points cannot come back via stale shards
    col.export_points(path)

    cat.create_collection("rex2", dim=2)
    dst = cat.collection("rex2")
    dst.import_points(path)
    ids = sorted(r["id"] for r in dst.df().collect())
    assert ids == [0, 1, 2, 5, 6, 7, 8, 9]


def test_nsw_index_on_collection(spark, tmp_path):
    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat3"))
    cat.create_collection("graph", dim=8)
    col = cat.collection("graph")
    pts = spark.createDataFrame(
        [
            (i, [((i * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)], {"i": str(i)})
            for i in range(120)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    col.build_nsw_index(n_buckets=2)

    qv = [((5 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]
    exact = [r["id"] for r in col.search(qv, limit=5).collect()]
    approx = [r["id"] for r in col.search_nsw(qv, limit=5, ef=128).collect()]
    # beam wider than any bucket → exhaustive per bucket → equals exact
    assert approx == exact

    # staleness contract: writes after the build invalidate the index
    col.upsert(
        spark.createDataFrame(
            [(999, [0.5] * 8, {"i": "999"})],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    with _pytest.raises(ValueError, match="rebuild"):
        col.search_nsw(qv)
    col.build_nsw_index(n_buckets=2)
    assert len(col.search_nsw(qv, limit=5).collect()) == 5


def test_lsh_index_on_collection(spark, tmp_path):
    """r6: the persisted multi-table LSH index as a collection surface —
    same build-once / version-pinned staleness contract as the NSW graph
    index; probes must land on the (table, sig) PARTITION columns, and
    the approximate top-k must be a subset the exact search agrees with
    on score."""
    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat4"))
    cat.create_collection("hashed", dim=8)
    col = cat.collection("hashed")
    pts = spark.createDataFrame(
        [
            (i, [((i * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)], {"i": str(i)})
            for i in range(120)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    with _pytest.raises(ValueError, match="no LSH index"):
        col.search_lsh([0.1] * 8)
    col.build_lsh_index()

    qv = [((5 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]
    res = col.search_lsh(qv, limit=5)
    rows = res.collect()
    assert len(rows) == 5
    assert rows[0]["id"] == 5 and rows[0]["score"] == 1.0  # exact self hit
    exact_scores = {
        r["id"]: r["score"] for r in col.search(qv, limit=120).collect()
    }
    for r in rows:
        assert exact_scores[r["id"]] == r["score"]
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # staleness: a later write invalidates the index until rebuild
    col.upsert(
        spark.createDataFrame(
            [(999, [0.5] * 8, {"i": "999"})],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    with _pytest.raises(ValueError, match="rebuild"):
        col.search_lsh(qv)
    col.build_lsh_index()
    assert len(col.search_lsh(qv, limit=5).collect()) == 5


def test_ivf_index_on_collection(spark, tmp_path):
    """r6: the IVF coarse index as a collection surface — centroids pinned
    in the index meta, nprobe = centroid_id partition pruning, same
    staleness contract as NSW/LSH. At nprobe == n_centroids every cell is
    probed, so the result must EQUAL exact search."""
    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat5"))
    cat.create_collection("coarse", dim=8)
    col = cat.collection("coarse")
    pts = spark.createDataFrame(
        [
            (i, [((i * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)], {"i": str(i)})
            for i in range(120)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    with _pytest.raises(ValueError, match="no IVF index"):
        col.search_ivf([0.1] * 8)
    col.build_ivf_index(n_centroids=4)

    qv = [((5 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]
    full = col.search_ivf(qv, limit=5, nprobe=4)  # all cells → exact
    exact = [(r["id"], r["score"]) for r in col.search(qv, limit=5).collect()]
    assert [(r["id"], r["score"]) for r in full.collect()] == exact
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:200]

    col.upsert(
        spark.createDataFrame(
            [(999, [0.5] * 8, {"i": "999"})],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    with _pytest.raises(ValueError, match="rebuild"):
        col.search_ivf(qv)
    col.build_ivf_index(n_centroids=4)
    assert len(col.search_ivf(qv, limit=5, nprobe=2).collect()) == 5


def test_ivfpq_index_on_collection(spark, tmp_path):
    """r6: the IVF+PQ composite surface — with nprobe == n_centroids and
    shortlist >= collection size the ADC shortlist covers every row, so
    the exact-cosine re-rank must EQUAL exact search; partition pruning
    on centroid_id asserted; staleness contract shared with the others."""
    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat6"))
    cat.create_collection("composite", dim=8)
    col = cat.collection("composite")
    pts = spark.createDataFrame(
        [
            (i, [((i * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)], {"i": str(i)})
            for i in range(120)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    with _pytest.raises(ValueError, match="no IVF\\+PQ index"):
        col.search_ivfpq([0.1] * 8)
    col.build_ivfpq_index(n_centroids=4, m=4, ksub=8)

    qv = [((5 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]
    full = col.search_ivfpq(qv, limit=5, nprobe=4, shortlist=200)
    exact = [(r["id"], r["score"]) for r in col.search(qv, limit=5).collect()]
    assert [(r["id"], r["score"]) for r in full.collect()] == exact
    plan = full._jdf.queryExecution().executedPlan().toString()
    # the plan contains several scans (live collection + index); the INDEX
    # scan must carry the centroid partition predicate
    assert any(
        "centroid_id" in seg[:200] for seg in plan.split("PartitionFilters")[1:]
    )
    # tight operating point still finds the exact self hit at rank 1
    tight = col.search_ivfpq(qv, limit=3, nprobe=2, shortlist=10).collect()
    assert tight[0]["id"] == 5 and tight[0]["score"] == 1.0

    col.upsert(
        spark.createDataFrame(
            [(999, [0.5] * 8, {"i": "999"})],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    with _pytest.raises(ValueError, match="rebuild"):
        col.search_ivfpq(qv)
    col.build_ivfpq_index(n_centroids=4, m=4, ksub=8)
    assert len(col.search_ivfpq(qv, limit=5).collect()) == 5


def test_search_auto_routes_and_degrades_to_exact(spark, tmp_path):
    """search_auto serves from the highest-recall FRESH index and silently
    degrades to the exact scan the moment a write stales every index —
    never a stale answer, never a raise for this entry point."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "auto"))
    col = cat.create_collection("routed", dim=8)
    pts = spark.createDataFrame(
        [
            (i, [((i * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)], {"i": str(i)})
            for i in range(120)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    qv = [((5 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]
    exact = [
        (r["id"], r["score"])
        for r in col.search(qv, limit=5, with_payload=False).collect()
    ]

    # no index → exact route, identical rows
    assert col.route_for_search() == "exact"
    assert [(r["id"], r["score"]) for r in col.search_auto(qv, limit=5).collect()] == exact

    # fresh IVF at full probe width (4 of 4 cells = exhaustive) → routed,
    # and still exact-identical
    col.build_ivf_index(n_centroids=4)
    assert col.route_for_search() == "ivf"
    assert [(r["id"], r["score"]) for r in col.search_auto(qv, limit=5).collect()] == exact

    # NSW outranks IVF in the priority order; 120 rows / 2 buckets with the
    # scale-aware beam is exhaustive per bucket → exact-identical again
    col.build_nsw_index(n_buckets=2)
    assert col.route_for_search() == "nsw"
    assert [(r["id"], r["score"]) for r in col.search_auto(qv, limit=5).collect()] == exact

    # a write stales BOTH indexes: search_nsw raises, search_auto degrades
    col.upsert(
        spark.createDataFrame(
            [(999, [0.5] * 8, {"i": "999"})],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    status = col.index_status()
    assert status["nsw"]["exists"] and not status["nsw"]["fresh"]
    assert status["ivf"]["exists"] and not status["ivf"]["fresh"]
    assert col.route_for_search() == "exact"
    got = [(r["id"], r["score"]) for r in col.search_auto(qv, limit=5).collect()]
    fresh_exact = [
        (r["id"], r["score"])
        for r in col.search(qv, limit=5, with_payload=False).collect()
    ]
    assert got == fresh_exact


def test_search_auto_batch_routes_nsw_and_degrades(spark, tmp_path):
    """search_auto_batch serves a whole query batch from a fresh NSW index
    in one pass (exhaustive beam at this size → exact-identical), and
    degrades to the exact adaptive batch plan once a write stales it."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "ab"))
    col = cat.create_collection("batched", dim=8)
    pts = spark.createDataFrame(
        [
            (i, [((i * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)], {"i": str(i)})
            for i in range(120)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    qs = [
        (7, [((7 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]),
        (11, [((11 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]),
    ]
    exact = {
        (r["qid"], r["id"], r["score"])
        for r in col.search_batch(qs, limit=5).select("qid", "id", "score").collect()
    }

    # exact route (no index): identical to search_batch
    assert {
        (r["qid"], r["id"], r["score"])
        for r in col.search_auto_batch(qs, limit=5).collect()
    } == exact

    # fresh NSW: batch-served from the index; exhaustive per bucket at
    # this size → exact-identical rows
    col.build_nsw_index(n_buckets=2)
    assert col.route_for_search() == "nsw"
    assert {
        (r["qid"], r["id"], r["score"])
        for r in col.search_auto_batch(qs, limit=5).collect()
    } == exact

    # staling write → silent degradation to the exact plan, not a raise
    col.upsert(
        spark.createDataFrame(
            [(999, [0.5] * 8, {"i": "999"})],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    out = col.search_auto_batch(qs, limit=5).collect()
    assert len(out) == 10


def test_search_ivf_batch_equals_per_query(spark, tmp_path):
    """Batch IVF (probe-set unioning, one index scan) must be row-identical
    to per-query search_ivf at the same nprobe, the union filter must land
    on the centroid_id PARTITION column, and a full probe width must equal
    exact search — the batching is purely physical."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "ivfb"))
    col = cat.create_collection("cells", dim=8)
    pts = spark.createDataFrame(
        [
            (i, [((i * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)], {"i": str(i)})
            for i in range(120)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    col.build_ivf_index(n_centroids=4)
    qs = [
        (7, [((7 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]),
        (11, [((11 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]),
    ]

    batch = col.search_ivf_batch(qs, limit=5, nprobe=2)
    got = {
        qid: [(r["id"], r["score"]) for r in rows]
        for qid, rows in _group_by_qid(batch.collect()).items()
    }
    for qid, qv in qs:
        per = [(r["id"], r["score"]) for r in col.search_ivf(qv, limit=5, nprobe=2).collect()]
        assert got[qid] == per, f"batch diverged from per-query for qid={qid}"

    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1][:300]

    # full probe width == exact search, per query
    full = _group_by_qid(col.search_ivf_batch(qs, limit=5, nprobe=4).collect())
    for qid, qv in qs:
        exact = [(r["id"], r["score"]) for r in col.search(qv, limit=5).collect()]
        assert [(r["id"], r["score"]) for r in full[qid]] == exact

    # routing: no NSW index, fresh IVF → the auto batch rides the index
    assert col.route_for_search() == "ivf"
    routed = col.search_auto_batch(qs, limit=5)
    assert "centroid_id" in routed._jdf.queryExecution().executedPlan().toString()


def _group_by_qid(rows):
    out = {}
    for r in rows:
        out.setdefault(r["qid"], []).append(r)
    return out


def test_search_lsh_batch_equals_per_query(spark, tmp_path):
    """Batch LSH (probe-bucket unioning, one index scan) must be
    row-identical to per-query search_lsh, keep the (table, sig)
    partition predicate, and be the batch route when LSH is the best
    fresh index."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "lshb"))
    col = cat.create_collection("buckets", dim=8)
    pts = spark.createDataFrame(
        [
            (i, [((i * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)], {"i": str(i)})
            for i in range(120)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    col.build_lsh_index(bits=6, tables=4)
    qs = [
        (7, [((7 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]),
        (11, [((11 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]),
    ]

    batch = col.search_lsh_batch(qs, limit=5)
    got = _group_by_qid(batch.collect())
    for qid, qv in qs:
        per = [(r["id"], r["score"]) for r in col.search_lsh(qv, limit=5).collect()]
        assert [(r["id"], r["score"]) for r in got[qid]] == per

    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    tail = plan.split("PartitionFilters")[1][:400]
    assert "table" in tail and "sig" in tail

    # routing: lsh outranks ivf for batches, nsw outranks lsh
    col.build_ivf_index(n_centroids=4)
    assert col.route_for_search() == "lsh"
    routed = col.search_auto_batch(qs, limit=5)
    routed_plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "probe_keys" in routed_plan or "sig" in routed_plan


def test_search_ivfpq_batch_equals_per_query(spark, tmp_path):
    """Batch IVF+PQ (per-query ADC lookup tables on broadcast probe rows,
    one code scan) must be row-identical to per-query search_ivfpq at the
    same operating point, and exact at full probe width + wide shortlist."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "pqb"))
    col = cat.create_collection("coded", dim=8)
    pts = spark.createDataFrame(
        [
            (i, [((i * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)], {"i": str(i)})
            for i in range(120)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    col.build_ivfpq_index(n_centroids=4, m=4, ksub=8)
    qs = [
        (7, [((7 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]),
        (11, [((11 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)]),
    ]

    batch = col.search_ivfpq_batch(qs, limit=5, nprobe=2, shortlist=20)
    got = _group_by_qid(batch.collect())
    for qid, qv in qs:
        per = [
            (r["id"], r["score"])
            for r in col.search_ivfpq(qv, limit=5, nprobe=2, shortlist=20).collect()
        ]
        assert [(r["id"], r["score"]) for r in got[qid]] == per

    # full probe width + wide shortlist == exact search, per query
    full = _group_by_qid(
        col.search_ivfpq_batch(qs, limit=5, nprobe=4, shortlist=200).collect()
    )
    for qid, qv in qs:
        exact = [(r["id"], r["score"]) for r in col.search(qv, limit=5).collect()]
        assert [(r["id"], r["score"]) for r in full[qid]] == exact


def test_search_auto_batch_routes_ivfpq_when_only_index(spark, tmp_path):
    """With IVF+PQ as the only fresh index, the batch router must take it
    (the last index rung before exact) and return its rows."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "pqroute"))
    col = cat.create_collection("only_pq", dim=8)
    pts = spark.createDataFrame(
        [
            (i, [((i * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)], {"i": str(i)})
            for i in range(120)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    col.build_ivfpq_index(n_centroids=4, m=4, ksub=8)
    assert col.route_for_search() == "ivfpq"
    qs = [(7, [((7 * 31 + j * 17) % 19) / 10.0 - 0.9 for j in range(8)])]
    routed = {
        (r["qid"], r["id"], r["score"])
        for r in col.search_auto_batch(qs, limit=5).collect()
    }
    direct = {
        (r["qid"], r["id"], r["score"])
        for r in col.search_ivfpq_batch(qs, limit=5).collect()
    }
    assert routed == direct and len(routed) == 5


def test_search_nsw_auto_ef_matches_batch_route(spark, tmp_path):
    """r6 ADVICE (medium): search_nsw pinned ef=48 while search_auto_batch's
    NSW route used the scale-aware _auto_ef default, so the same query
    could get different rows through the two surfaces. With ef=None
    flowing through, the single-query surface and the batch route must be
    row-identical (ids AND scores)."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_efauto"))
    cat.create_collection("efauto", dim=8)
    col = cat.collection("efauto")
    pts = spark.createDataFrame(
        [
            (i, [((i * 37 + j * 13) % 23) / 11.0 - 1.0 for j in range(8)], {"i": str(i)})
            for i in range(300)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    col.build_nsw_index(n_buckets=2)
    assert col.route_for_search() == "nsw"

    qv = [((9 * 37 + j * 13) % 23) / 11.0 - 1.0 for j in range(8)]
    single = [
        (r["id"], r["score"])
        for r in col.search_nsw(qv, limit=5).collect()
    ]
    batch = [
        (r["id"], r["score"])
        for r in col.search_auto_batch([(0, qv)], limit=5).collect()
    ]
    assert single == batch and len(single) == 5


def test_ivf_auto_defaults_on_collection(spark, tmp_path):
    """r7: build_ivf_index() with no args derives n_centroids from the
    live row count (sqrt(N) clamped to >=16) and search_ivf() with no
    nprobe derives the scan-fraction default — the collection surface of
    operators/ann.py::_auto_n_centroids/_auto_nprobe."""
    import json as _json
    import os as _os

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_ivfauto"))
    cat.create_collection("ivfauto", dim=8)
    col = cat.collection("ivfauto")
    # prime modulus > N keeps every vector distinct (duplicate points can
    # collapse KMeans clusters below k, which would mask the sqrt(N) rule)
    pts = spark.createDataFrame(
        [
            (i, [((i * 977 + j * 131) % 1009) / 504.0 - 1.0 for j in range(8)], {"i": str(i)})
            for i in range(300)
        ],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    col.build_ivf_index()
    with open(_os.path.join(col._index_path("ivf"), "_index_meta.json")) as fh:
        centroids = _json.load(fh)["centroids"]
    assert len(centroids) == max(16, int(300**0.5))  # sqrt(N) rule
    qv = [((3 * 977 + j * 131) % 1009) / 504.0 - 1.0 for j in range(8)]
    rows = col.search_ivf(qv, limit=5).collect()
    assert len(rows) == 5


def test_tombstone_broadcast_gate_branch_semantics(spark, tmp_path, monkeypatch):
    """r7: the latest-wins tombstone join broadcasts only while the
    tombstone LOG is small on disk (a delete-heavy collection grows it
    without bound). Forcing the gate shut (budget 0) must leave the
    SEMANTICS identical — the hint is a physical choice only."""
    import vector_database_spark.catalog as cat_mod
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_tomb"))
    cat.create_collection("tomb", dim=2)
    col = cat.collection("tomb")
    pts = spark.createDataFrame(
        [(i, [float(i), 1.0], {"i": str(i)}) for i in range(20)],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    col.delete(point_ids=[3, 7, 11])
    live_broadcast = sorted(r["id"] for r in col.df().collect())

    monkeypatch.setattr(cat_mod, "TOMBSTONE_BROADCAST_MAX_BYTES", 0)
    live_shuffle = sorted(r["id"] for r in col.df().collect())
    assert live_broadcast == live_shuffle
    assert 3 not in live_shuffle and len(live_shuffle) == 17


def test_ivf_refresh_incremental(spark, tmp_path):
    """r7: refresh_ivf_index folds writes since the build into the index
    WITHOUT a rebuild (segment append + superseded-id mask, pinned
    centroids). Contract: after refresh the index is fresh, a search at
    full probe coverage returns exactly the exact scan's ids (no stale
    vector served, no deleted id resurfacing), and refresh is idempotent."""
    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_ivfrefresh"))
    cat.create_collection("ivfr", dim=8)
    col = cat.collection("ivfr")

    def vec(i, bump=0.0):
        return [((i * 977 + j * 131) % 1009) / 504.0 - 1.0 + bump for j in range(8)]

    base = spark.createDataFrame(
        [(i, vec(i), {"i": str(i)}) for i in range(400)],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(base)
    col.build_ivf_index(n_centroids=8)

    # writes AFTER the build: 50 new points, 10 updated, 10 deleted
    delta = spark.createDataFrame(
        [(i, vec(i), {"i": str(i)}) for i in range(400, 450)]
        + [(i, vec(i, bump=0.5), {"i": str(i)}) for i in range(10)],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(delta)
    col.delete(point_ids=list(range(390, 400)))

    qv = vec(5, bump=0.5)  # the UPDATED vector of id 5
    with _pytest.raises(ValueError, match="refresh_ivf_index"):
        col.search_ivf(qv)
    assert not col.index_status()["ivf"]["fresh"]

    appended = col.refresh_ivf_index()
    assert appended == 60  # 50 new + 10 updated live rows
    assert col.index_status()["ivf"]["fresh"]

    # full probe coverage == exact search over the LIVE collection
    exact_ids = [r["id"] for r in col.search(qv, limit=5).collect()]
    idx_ids = [r["id"] for r in col.search_ivf(qv, limit=5, nprobe=8).collect()]
    assert idx_ids == exact_ids
    assert idx_ids[0] == 5  # the updated point is served its NEW vector

    # a deleted id never comes back, even searched by its own old vector
    got = {
        r["id"]
        for r in col.search_ivf(vec(395), limit=10, nprobe=8).collect()
    }
    assert not (got & set(range(390, 400)))
    # a NEW point is findable through the refreshed index
    got_new = [r["id"] for r in col.search_ivf(vec(425), limit=1, nprobe=8).collect()]
    assert got_new == [425]

    # batch twin sees the same resolved layout
    b = {
        (r["qid"], r["id"])
        for r in col.search_ivf_batch([(0, qv)], limit=5, nprobe=8).collect()
    }
    assert b == {(0, i) for i in exact_ids}

    # idempotent: nothing new to fold
    assert col.refresh_ivf_index() == 0


def test_ivf_refresh_retry_does_not_duplicate(spark, tmp_path):
    """r8 ADVICE: the refresh commit is three non-atomic steps; a crash
    after the delta append used to leave a retried refresh APPENDING the
    same rows under the same __seg (both copies pass the mask filter →
    duplicate ids in search results). The seg-prefixed file-rename commit
    makes a re-run of the same segment REPLACE it. Simulated here by
    rolling the meta back to its pre-refresh state and refreshing again —
    exactly what a crash between the delta write and the meta rewrite
    leaves behind."""
    import json as _json
    import os as _os

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_ivfretry"))
    cat.create_collection("ivfr2", dim=8)
    col = cat.collection("ivfr2")

    def vec(i):
        return [((i * 911 + j * 127) % 997) / 498.0 - 1.0 for j in range(8)]

    base = spark.createDataFrame(
        [(i, vec(i), {"i": str(i)}) for i in range(120)],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(base)
    col.build_ivf_index(n_centroids=4)
    col.upsert(
        spark.createDataFrame(
            [(i, vec(i), {"i": str(i)}) for i in range(120, 140)],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )

    meta_path = _os.path.join(col._index_path("ivf"), "_index_meta.json")
    with open(meta_path) as fh:
        pre = _json.load(fh)
    assert col.refresh_ivf_index() == 20

    # crash-retry: meta never advanced, same segment re-folds
    with open(meta_path) as fh:
        post = _json.load(fh)
    with open(meta_path, "w") as fh:
        _json.dump(pre, fh)
    assert col.refresh_ivf_index() == 20
    with open(meta_path) as fh:
        assert _json.load(fh) == post

    layout = spark.read.parquet(col._index_path("ivf"))
    from pyspark.sql import functions as F

    assert layout.filter(F.col("__seg") == pre["next_seg"]).count() == 20

    got = [r["id"] for r in col.search_ivf(vec(130), limit=10, nprobe=4).collect()]
    assert len(got) == len(set(got)), f"duplicate ids served: {got}"
    exact = [r["id"] for r in col.search(vec(130), limit=10).collect()]
    assert got == exact


def test_lsh_refresh_incremental(spark, tmp_path):
    """r8 directive 4: refresh_lsh_index folds writes since the build into
    the persisted (table, sig) layout WITHOUT a rebuild — delta rows hash
    with the PINNED seeded hyperplanes into a new __seg, superseded ids
    drop via the side mask. Contract: after refresh the index is fresh,
    search_auto routes to it (covers_version honored), an updated point is
    served its NEW vector, deleted ids are gone, new points are findable,
    the batch twin sees the same resolved layout, and a second refresh is
    a no-op. Also: a crash-retry of the same segment does not duplicate."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_lshrefresh"))
    cat.create_collection("lshr", dim=8)
    col = cat.collection("lshr")

    def vec(i, bump=0.0):
        return [((i * 977 + j * 131) % 1009) / 504.0 - 1.0 + bump for j in range(8)]

    base = spark.createDataFrame(
        [(i, vec(i), {"i": str(i)}) for i in range(400)],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(base)
    col.build_lsh_index(bits=6, tables=4)

    delta = spark.createDataFrame(
        [(i, vec(i), {"i": str(i)}) for i in range(400, 450)]
        + [(i, vec(i, bump=0.5), {"i": str(i)}) for i in range(10)],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(delta)
    col.delete(point_ids=list(range(390, 400)))

    qv = vec(5, bump=0.5)  # the UPDATED vector of id 5
    with _pytest.raises(ValueError, match="refresh_lsh_index"):
        col.search_lsh(qv)
    assert not col.index_status()["lsh"]["fresh"]
    assert col.route_for_search() == "exact"  # stale index never serves

    appended = col.refresh_lsh_index()
    assert appended == 60 * 4  # (50 new + 10 updated) x 4 table copies
    assert col.index_status()["lsh"]["fresh"]
    assert col.route_for_search() == "lsh"  # auto-routing honors coverage

    # the updated point is served its NEW vector through the refreshed
    # index (its own bucket is always probed — hashes are deterministic)
    top = [r["id"] for r in col.search_lsh(qv, limit=1).collect()]
    assert top == [5]
    # search_auto serves the same refreshed layout
    auto_top = [r["id"] for r in col.search_auto(qv, limit=1).collect()]
    assert auto_top == [5]

    # a deleted id never comes back, even searched by its own old vector
    got = {
        r["id"]
        for r in col.search_lsh(vec(395), limit=10, max_hamming=2).collect()
    }
    assert not (got & set(range(390, 400)))
    # a NEW point is findable through the refreshed index
    got_new = [r["id"] for r in col.search_lsh(vec(425), limit=1).collect()]
    assert got_new == [425]

    # batch twin resolves the same layout
    b = [
        (r["qid"], r["id"])
        for r in col.search_lsh_batch([(0, qv)], limit=1).collect()
    ]
    assert b == [(0, 5)]

    # idempotent: nothing new to fold
    assert col.refresh_lsh_index() == 0

    # crash-retry of the same segment (meta rolled back) must not
    # double-materialize rows
    meta_path = _os.path.join(col._index_path("lsh"), "_index_meta.json")
    with open(meta_path) as fh:
        post = _json.load(fh)
    pre = dict(post, covers_version=post["built_at_version"], next_seg=1)
    with open(meta_path, "w") as fh:
        _json.dump(pre, fh)
    assert col.refresh_lsh_index() == 60 * 4
    res = [r["id"] for r in col.search_lsh(qv, limit=10).collect()]
    assert len(res) == len(set(res)), f"duplicate ids served: {res}"


def test_auto_compaction_policy(spark, tmp_path, monkeypatch):
    """r8 directive 6: the log-structured layout's read amplification is
    bounded automatically — after AUTO_COMPACT_MIN_BATCHES versions, an
    update/delete-heavy collection (raw log >= 2x live rows) folds itself
    on the next write, preserving latest-wins; append-only collections
    never fold (raw == live, nothing to reclaim); snapshots and the
    create_collection opt-out suspend the policy; and the amortizing
    checked-at stamp limits the live count() to once per MIN_BATCHES."""
    import json as _json
    import os as _os

    from vector_database_spark import catalog as cat_mod
    from vector_database_spark.catalog import Catalog

    monkeypatch.setattr(cat_mod, "AUTO_COMPACT_MIN_BATCHES", 4)

    def vec(i, r=0):
        return [float((i * 31 + j * 7 + r) % 11) + 1.0 for j in range(4)]

    def pts(ids, r=0):
        return spark.createDataFrame(
            [(i, vec(i, r), {"r": str(r)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    cat = Catalog(spark, str(tmp_path / "cat_autocompact"))

    # -- update-heavy: fires once amplification crosses the ratio --------
    col = cat.create_collection("hot", dim=4)
    col.upsert(pts(range(20)))
    fired_at = None
    for r in range(1, 8):
        col.upsert(pts(range(20), r=r))
        info = cat._load()["hot"]
        if info.get("compacted_at"):
            fired_at = info["compacted_at"]
            break
    assert fired_at, "update-heavy collection never auto-compacted"
    # latest-wins preserved across the fold
    live = {r["id"]: r["payload"]["r"] for r in col.df().collect()}
    assert len(live) == 20 and all(v == max(live.values()) for v in live.values())
    # the fold actually reclaimed the superseded versions
    assert col._approx_live_rows() == 20

    # -- append-only: never fires (raw == live), but the evaluation is
    # amortized via the checked-at stamp ---------------------------------
    col2 = cat.create_collection("cold", dim=4)
    for b in range(6):
        col2.upsert(pts(range(b * 10, b * 10 + 10)))
    info2 = cat._load()["cold"]
    assert "compacted_at" not in info2
    assert info2.get("auto_compact_checked_at", 0) > 0

    # -- snapshots BOUND the policy to a partial fold (r9): the auto-fold
    # may advance compacted_at up to (never past) the oldest pin, and the
    # pinned state stays restorable -------------------------------------
    col3 = cat.create_collection("snapped", dim=4)
    col3.upsert(pts(range(10)))
    pin = cat._load()["snapped"]["version"]
    col3.create_snapshot("keep")
    for r in range(1, 7):
        col3.upsert(pts(range(10), r=r))
    info3 = cat._load()["snapped"]
    assert info3.get("compacted_at", 0) <= pin, (
        "auto-fold advanced past a pinned snapshot"
    )
    # time travel to the snapshot still works
    assert col3.df(as_of_version=info3["snapshots"]["keep"]).count() == 10
    col3.restore_snapshot("keep")

    # -- explicit opt-out -------------------------------------------------
    col4 = cat.create_collection("manual", dim=4, auto_compact=False)
    for r in range(7):
        col4.upsert(pts(range(10), r=r))
    assert "compacted_at" not in cat._load()["manual"]


def test_refresh_refuses_after_fold(spark, tmp_path, monkeypatch):
    """r8: compact() (manual or auto) clears the tombstone log — a delete
    between an index's coverage and the fold leaves NO trace the refresh
    delta scan could find, so a refresh across a fold would serve stale
    deleted ids. Both refreshes must refuse and demand a rebuild."""
    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_foldguard"))
    col = cat.create_collection("fg", dim=4, auto_compact=False)

    def vec(i):
        return [float((i * 31 + j * 7) % 11) + 1.0 for j in range(4)]

    col.upsert(
        spark.createDataFrame(
            [(i, vec(i), {"i": str(i)}) for i in range(50)],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    col.build_ivf_index(n_centroids=4)
    col.build_lsh_index(bits=6, tables=2)
    col.delete(point_ids=[7])
    col.compact()  # folds the tombstone the refresh would need
    with _pytest.raises(ValueError, match="folded history"):
        col.refresh_ivf_index()
    with _pytest.raises(ValueError, match="folded history"):
        col.refresh_lsh_index()


def test_optimize_refreshes_rebuilds_and_reports(spark, tmp_path):
    """r8 (updated r10): VectorCollection.optimize() is the one-call
    Qdrant-optimizer twin — since r10 EVERY family refreshes
    incrementally (LSH/IVF r7-r8, NSW/IVFPQ r10 — the maintenance matrix
    is complete), everything ends fresh, and the call is idempotent.
    After a compact() fold, all families rebuild (their delta scan
    refuses across the fold)."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_optimize"))
    col = cat.create_collection("opt", dim=8, auto_compact=False)

    def vec(i, bump=0.0):
        return [((i * 977 + j * 131) % 1009) / 504.0 - 1.0 + bump for j in range(8)]

    def pts(ids, bump=0.0):
        return spark.createDataFrame(
            [(i, vec(i, bump), {"i": str(i)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(150)))
    col.build_lsh_index(bits=6, tables=2)
    col.build_ivf_index(n_centroids=4)
    col.build_nsw_index(n_buckets=2)
    col.build_ivfpq_index(n_centroids=4)

    col.upsert(pts(range(150, 170)))
    col.delete(point_ids=[3, 4])
    assert col.route_for_search() == "exact"  # everything stale

    report = col.optimize()
    assert report == {
        "nsw": "refreshed",
        "lsh": "refreshed",
        "ivf": "refreshed",
        "ivfpq": "refreshed",
        "compacted": False,
    }
    status = col.index_status()
    assert all(status[k]["fresh"] for k in ("nsw", "lsh", "ivf", "ivfpq"))
    # the refreshed NSW graph serves the new state through search_auto
    top = [r["id"] for r in col.search_auto(vec(160), limit=1).collect()]
    assert top == [160]
    assert col.optimize() == {
        "nsw": "fresh", "lsh": "fresh", "ivf": "fresh", "ivfpq": "fresh",
        "compacted": False,
    }

    # across a fold: every family must REBUILD (delta scan refuses)
    col.upsert(pts(range(170, 180)))
    col.compact()
    report = col.optimize()
    assert report["lsh"] == "rebuilt" and report["ivf"] == "rebuilt"
    assert report["nsw"] == "rebuilt" and report["ivfpq"] == "rebuilt"
    assert col.route_for_search() != "exact"


def test_partitioned_layouts_have_bounded_file_counts(spark, tmp_path):
    """r8: the partitioned index writers and compact() repartition before
    writing — without it every input task writes a file into every
    partition dir (16,368 files at 200k rows measured; 514 with the fix).
    Regression-pin the bound: files <= partition dirs + shuffle
    partitions, not tasks x dirs."""
    import os as _os

    from vector_database_spark.catalog import Catalog

    def parquet_files(root):
        return sum(
            1
            for dp, _d, fs in _os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    cat = Catalog(spark, str(tmp_path / "cat_files"))
    col = cat.create_collection("bf", dim=8, auto_compact=False)

    # many input partitions on purpose: the pathological write shape
    pts = (
        spark.range(4000)
        .repartition(32)
        .selectExpr(
            "id",
            "transform(sequence(0, 7), j -> cast(pmod(id * 977 + j * 131, 1009) as double) / 504.0 - 1.0) as embedding",
            "map('i', cast(id as string)) as payload",
        )
    )
    col.upsert(pts)
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    col.build_lsh_index(bits=6, tables=4)
    n_dirs = sum(
        1
        for dp, _d, fs in _os.walk(col._index_path("lsh"))
        if any(f.endswith(".parquet") for f in fs)
    )
    n_files = parquet_files(col._index_path("lsh"))
    assert n_files <= n_dirs + shuffle_parts, (
        f"LSH layout wrote {n_files} files over {n_dirs} partition dirs — "
        "the pre-write repartition regressed"
    )

    col.build_ivf_index(n_centroids=8)
    n_files = parquet_files(col._index_path("ivf"))
    assert n_files <= 8 + shuffle_parts

    # compact: the folded collection layout is bounded too
    col.upsert(pts)  # version churn so compact has something to fold
    col.compact()
    n_files = parquet_files(col.path)
    assert n_files <= col.N_BUCKETS + shuffle_parts, (
        f"compacted layout holds {n_files} files"
    )
    # and stays correct
    assert col.count() == 4000


def test_compact_and_policy_handle_all_deleted_collection(spark, tmp_path, monkeypatch):
    """r8 review: an all-deleted collection is MAXIMUM amplification (every
    read scans a fully-dead log), yet the policy skipped live==0 and manual
    compact() crashed on the empty fold's schema inference. Both paths now
    reclaim it: the fold drops the data dir + tombstones and later writes
    start clean."""
    from vector_database_spark import catalog as cat_mod
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_alldead"))
    col = cat.create_collection("dead", dim=4, auto_compact=False)

    def pts(ids, r=0):
        return spark.createDataFrame(
            [(i, [float(i % 5 + 1)] * 4, {"r": str(r)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(30)))
    col.delete(point_ids=list(range(30)))
    col.compact()  # must not crash on the empty fold
    assert col.count() == 0
    assert col._approx_live_rows() == 0  # dead log actually reclaimed
    # the collection keeps working after the empty fold
    col.upsert(pts(range(5), r=1))
    assert col.count() == 5

    # policy path: live==0 triggers the fold instead of exempting it
    monkeypatch.setattr(cat_mod, "AUTO_COMPACT_MIN_BATCHES", 2)
    col2 = cat.create_collection("dead2", dim=4)
    col2.upsert(pts(range(20)))
    col2.upsert(pts(range(20), r=1))
    col2.delete(point_ids=list(range(20)))
    info = cat._load()["dead2"]
    assert info.get("compacted_at"), "live==0 fold never fired"
    assert col2.count() == 0


def test_snapshot_pinned_at_fold_suspends_auto_compaction(spark, tmp_path, monkeypatch):
    """r8 review: restore_snapshot accepts pinned == compacted_at, so a
    snapshot created right after a fold is a LIVE restore point — the
    policy must treat it as suspending (>= not >)."""
    from vector_database_spark import catalog as cat_mod
    from vector_database_spark.catalog import Catalog

    monkeypatch.setattr(cat_mod, "AUTO_COMPACT_MIN_BATCHES", 2)
    cat = Catalog(spark, str(tmp_path / "cat_snapfold"))
    col = cat.create_collection("sf", dim=4)

    def pts(ids, r=0):
        return spark.createDataFrame(
            [(i, [float(i % 5 + 1 + r)] * 4, {"r": str(r)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(10)))
    for r in range(1, 4):
        col.upsert(pts(range(10), r=r))
    first_fold = cat._load()["sf"].get("compacted_at")
    assert first_fold, "setup: the first fold should have fired"
    # snapshot pinned EXACTLY at the fold version — restorable today
    # (folds mint no version, so the pin equals compacted_at)
    col.create_snapshot("at-fold")
    assert cat._load()["sf"]["snapshots"]["at-fold"] == first_fold
    for r in range(4, 10):
        col.upsert(pts(range(10), r=r))
    assert cat._load()["sf"].get("compacted_at") == first_fold, (
        "a second fold fired and destroyed the pinned-at-fold snapshot"
    )
    col.restore_snapshot("at-fold")  # still valid


def test_empty_fold_drops_indexes_and_tombstone_only_log_folds(spark, tmp_path, monkeypatch):
    """r8 review 2: (a) the all-deleted fold also drops ANN index/mask
    dirs — they describe data that no longer exists, refresh correctly
    refuses across the fold, and a rebuild has nothing to train on, so
    keeping them left optimize() with no non-crashing path; (b) a
    tombstone-only log (raw==0 but deletes keep appending) folds too —
    every read joins that log; (c) index builds on an empty collection
    fail fast with a clear error instead of an MLlib crash; (d) a fold
    interrupted between its swap renames is recovered by the next read."""
    import os as _os
    import shutil as _shutil

    import pytest as _pytest

    from vector_database_spark import catalog as cat_mod
    from vector_database_spark.catalog import Catalog

    monkeypatch.setattr(cat_mod, "AUTO_COMPACT_MIN_BATCHES", 2)
    cat = Catalog(spark, str(tmp_path / "cat_emptyfold"))
    col = cat.create_collection("ef", dim=4)

    def pts(ids, r=0):
        return spark.createDataFrame(
            [(i, [float(i % 5 + 1 + r)] * 4, {"r": str(r)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(40)))
    col.build_ivf_index(n_centroids=4)
    col.build_lsh_index(bits=6, tables=2)
    col.delete(point_ids=list(range(40)))  # live==0
    # second write crosses the MIN_BATCHES window → policy evaluates with
    # raw>0, live==0 → the empty fold fires
    col.delete(point_ids=[9_999])
    info = cat._load()["ef"]
    assert info.get("compacted_at"), "all-deleted fold never fired"
    assert col.count() == 0
    # (a) the stale indexes are GONE, search_auto degrades to exact-empty
    assert not _os.path.exists(col._index_path("ivf"))
    assert not _os.path.exists(col._index_path("lsh"))
    assert col.index_status()["ivf"]["exists"] is False
    assert col.route_for_search() == "exact"
    assert col.optimize() == {"compacted": False}  # no crash, nothing to do
    # (c) building on the empty state fails fast and clearly
    with _pytest.raises(ValueError, match="no live points"):
        col.build_ivf_index(n_centroids=4)

    # (b) tombstone-only growth: deletes of absent ids after the fold —
    # once the evaluation window re-opens, the policy folds the log away
    # (raw==0 but the tombstone bytes are real read-side weight)
    for i in range(3):
        col.delete(point_ids=[10_000 + i])
    assert cat._load()["ef"]["compacted_at"] > info["compacted_at"]
    assert not _os.path.exists(col._tombstone_path), (
        "tombstone-only log was not folded away"
    )

    # (d) interrupted-swap recovery: simulate a crash between the two
    # renames (data path moved aside, folded layout still in __compact)
    col.upsert(pts(range(10), r=2))
    _shutil.copytree(col.path, col.path + "__compact")
    _shutil.rmtree(col.path)
    assert col.count() == 10  # _raw_df recovered the fold
    assert _os.path.exists(col.path)
    assert not _os.path.exists(col.path + "__compact")


def test_lifecycle_random_ops_serving_invariants(spark, tmp_path, monkeypatch):
    """r8 capstone: a SEEDED random interleaving of every lifecycle op
    (upsert / delete / index builds / refreshes / compact / optimize),
    with auto-compaction folding aggressively mid-sequence, must keep the
    serving invariants at EVERY step:

      * count() equals the python-model live set
      * search_auto never raises and never serves a non-live id
        (deleted ids stay gone through segments, masks, folds, recovery)
      * the exact scan finds a live point probed by its own vector
      * a non-exact route implies the routed index actually serves

    This is the interaction net the per-feature tests can't weave: folds
    racing coverage, refreshes over masked segments, empty states, index
    drops on the all-deleted fold."""
    import random

    from vector_database_spark import catalog as cat_mod
    from vector_database_spark.catalog import Catalog

    monkeypatch.setattr(cat_mod, "AUTO_COMPACT_MIN_BATCHES", 3)
    rng = random.Random(42)
    cat = Catalog(spark, str(tmp_path / "cat_randlife"))
    col = cat.create_collection("rl", dim=6)
    model: dict[int, int] = {}  # id -> revision

    def vec(i, rev):
        return [
            ((i * 977 + j * 131 + rev * 7919) % 1009) / 504.0 - 1.0 + (2.0 if j == 0 else 0.0)
            for j in range(6)
        ]

    def pts(pairs):
        return spark.createDataFrame(
            [(i, vec(i, r), {"rev": str(r)}) for i, r in pairs],
            "id long, embedding array<float>, payload map<string,string>",
        )

    next_id = 0

    def op_upsert():
        nonlocal next_id
        fresh = [(next_id + k, 0) for k in range(rng.randint(3, 12))]
        next_id += len(fresh)
        updates = [
            (i, model[i] + 1)
            for i in rng.sample(sorted(model), min(len(model), rng.randint(0, 6)))
        ]
        batch = fresh + updates
        col.upsert(pts(batch))
        model.update(dict(batch))

    def op_delete():
        if not model:
            return
        doomed = rng.sample(sorted(model), rng.randint(1, max(1, len(model) // 3)))
        col.delete(point_ids=doomed)
        for i in doomed:
            model.pop(i)

    def op_build():
        if not model:
            return
        kind = rng.choice(["lsh", "ivf"])
        if kind == "lsh":
            col.build_lsh_index(bits=6, tables=2)
        else:
            col.build_ivf_index(n_centroids=4)

    def op_refresh():
        for kind in ("lsh", "ivf"):
            try:
                getattr(col, f"refresh_{kind}_index")()
            except ValueError:
                pass  # no index / folded — legitimate refusals

    def op_compact():
        col.compact()

    def op_optimize():
        col.optimize()

    ops = [op_upsert, op_upsert, op_upsert, op_delete, op_delete,
           op_build, op_refresh, op_compact, op_optimize]
    op_upsert()  # seed some data
    for step in range(24):
        op = rng.choice(ops)
        op()
        # ---- invariants, every step --------------------------------------
        assert col.count() == len(model), f"step {step}: count drift after {op.__name__}"
        probe = vec(rng.randint(0, max(next_id - 1, 0)), 0)
        got = [r["id"] for r in col.search_auto(probe, limit=5).collect()]
        not_live = [i for i in got if i not in model]
        assert not not_live, (
            f"step {step}: search_auto served non-live ids {not_live} "
            f"via route {col.route_for_search()} after {op.__name__}"
        )
        if model:
            pick = rng.choice(sorted(model))
            top = [
                r["id"]
                for r in col.search(vec(pick, model[pick]), limit=1).collect()
            ]
            assert top == [pick], f"step {step}: exact scan lost id {pick}"
        route = col.route_for_search()
        if route != "exact":
            served = getattr(col, f"search_{route}")(probe, limit=3).collect()
            assert all(r["id"] in model for r in served)


# ---------------------------------------------------------------------------
# r9: ADVICE fixes — hint-race-safe compact, narrow live-rows except,
# crash-safe tombstone clear ordering, best-effort policy
# ---------------------------------------------------------------------------
def test_compact_ignores_stale_live_rows_hint(spark, tmp_path):
    """r9 (r8 ADVICE, high): the policy computes its live count OUTSIDE
    the catalog lock; compact() must honor the hint only when the catalog
    version under the lock still equals the version the hint was computed
    at. A stale or unversioned hint of 0 on a populated collection must
    fall back to isEmpty() — never the destructive rmtree branch."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_hintrace"))
    col = cat.create_collection("hr", dim=4, auto_compact=False)
    pts = spark.createDataFrame(
        [(i, [float(i + j) + 1.0 for j in range(4)], {"i": str(i)})
         for i in range(10)],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)

    # stale hint: version moved since the (fabricated) hint was computed
    assert col.compact(_live_rows_hint=0, _hint_version=col.info.version - 1)
    assert col.df().count() == 10, "stale hint=0 rmtree'd a live collection"

    # unversioned hint: same fallback
    col.upsert(pts)
    assert col.compact(_live_rows_hint=0)
    assert col.df().count() == 10, "unversioned hint=0 took the empty branch"

    # version-validated hint on a genuinely empty collection DOES fold away
    col.delete(point_ids=list(range(10)))
    v = cat._load()["hr"]["version"]
    assert col.compact(_live_rows_hint=0, _hint_version=v)
    assert col.df().count() == 0
    import os as _os

    assert not _os.path.exists(col.path), "validated empty fold didn't run"


def test_approx_live_rows_propagates_read_failures(spark, tmp_path):
    """r9 (r8 ADVICE, medium): a transient Spark read failure must never
    masquerade as an empty collection — that value feeds the destructive
    empty-fold branch of the auto-compaction policy."""
    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_liverows"))
    col = cat.create_collection("lr", dim=4, auto_compact=False)
    # structural no-data state: 0, no error
    assert col._approx_live_rows() == 0
    col.upsert(
        spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0, 4.0], {"a": "b"})],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    assert col._approx_live_rows() == 1

    class _BoomReader:
        def parquet(self, *_a, **_k):
            raise RuntimeError("transient executor failure")

    class _BoomSpark:
        read = _BoomReader()

    real_spark = cat.spark
    cat.spark = _BoomSpark()
    try:
        with _pytest.raises(RuntimeError, match="transient"):
            col._approx_live_rows()
    finally:
        cat.spark = real_spark


def test_compact_stamps_before_tombstone_clear(spark, tmp_path, monkeypatch):
    """r9 (r8 ADVICE, low): a crash between the fold and the tombstone
    rmtree must leave the refresh fold-guard ACTIVE (compacted_at stamped,
    tombstones still present) — the pre-r9 order left deletes
    unreconstructible while the guard still passed, so a refresh would
    silently keep serving deleted ids."""
    import os as _os
    import shutil as _shutil

    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_stamp"))
    col = cat.create_collection("st", dim=4, auto_compact=False)

    def vec(i):
        return [float((i * 31 + j * 7) % 11) + 1.0 for j in range(4)]

    col.upsert(
        spark.createDataFrame(
            [(i, vec(i), {"i": str(i)}) for i in range(20)],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    col.build_lsh_index(bits=6, tables=2)
    col.delete(point_ids=[3])

    real_rmtree = _shutil.rmtree
    tomb = col._tombstone_path

    def crashing_rmtree(path, *a, **k):
        if str(path) == tomb:
            raise RuntimeError("simulated crash before tombstone clear")
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(_shutil, "rmtree", crashing_rmtree)
    with _pytest.raises(RuntimeError, match="simulated crash"):
        col.compact()
    monkeypatch.setattr(_shutil, "rmtree", real_rmtree)

    info = cat._load()["st"]
    assert info.get("compacted_at") == info["version"], (
        "compacted_at not stamped before the tombstone clear"
    )
    assert _os.path.exists(tomb), "tombstones cleared before the stamp"
    # the fold-guard therefore refuses the refresh — the safe direction
    with _pytest.raises(ValueError, match="folded history"):
        col.refresh_lsh_index()
    # and reads are still correct (re-applying folded tombstones is a no-op)
    assert col.df().count() == 19


def test_write_paths_survive_policy_failures(spark, tmp_path, monkeypatch):
    """r9 (r8 ADVICE, low): upsert()/delete() commit their version BEFORE
    the auto-compaction policy runs; a policy failure must surface as a
    warning, not make the committed write look failed (a retry would
    double-append the batch)."""
    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_besteffort"))
    col = cat.create_collection("be", dim=4)

    def boom():
        raise RuntimeError("policy exploded")

    monkeypatch.setattr(col, "maybe_auto_compact", boom)
    pts = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0], {"a": "b"})],
        "id long, embedding array<float>, payload map<string,string>",
    )
    with _pytest.warns(RuntimeWarning, match="auto-compaction policy failed"):
        v = col.upsert(pts)
    assert cat._load()["be"]["version"] == v
    assert col.df().count() == 1
    with _pytest.warns(RuntimeWarning, match="auto-compaction policy failed"):
        v2 = col.delete(point_ids=[1])
    assert cat._load()["be"]["version"] == v2
    assert col.df().count() == 0


def test_ivf_drift_detection_and_rebuild_escalation(spark, tmp_path):
    """r9 directive 1: refresh_ivf_index pins centroids, so a write
    distribution that drifts away from the build-time KMeans silently
    costs recall. The drift ratio (refreshed rows' mean assignment
    distance / build-time mean) must show up in index_status, stay ~1
    for same-distribution refreshes, and push optimize() past
    refresh into a full rebuild (report value 'rebuilt_drift') when a
    shifted batch lands — after which the statistic resets."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_drift"))
    col = cat.create_collection("dr", dim=8, auto_compact=False)

    def vec(i, cluster, scale=10.0):
        # tight cluster around scale·onehot(cluster) + deterministic jitter
        base = [0.0] * 8
        base[cluster] = scale
        return [
            base[j] + ((i * 31 + j * 7) % 11 - 5) * 0.02 for j in range(8)
        ]

    def pts(ids, cluster_of):
        return spark.createDataFrame(
            [(i, vec(i, cluster_of(i)), {"i": str(i)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    # build distribution: 4 tight clusters on dims 0-3
    col.upsert(pts(range(200), lambda i: i % 4))
    col.build_ivf_index(n_centroids=4)
    st = col.index_status()["ivf"]
    assert st["fresh"] and st["drift_ratio"] is None

    # same-distribution refresh: drift ~1, optimize refreshes (no rebuild)
    col.upsert(pts(range(200, 260), lambda i: i % 4))
    rep = col.optimize()
    assert rep["ivf"] == "refreshed"
    ratio = col.index_status()["ivf"]["drift_ratio"]
    assert ratio is not None and ratio < 1.5, f"healthy refresh drifted: {ratio}"

    # planted shift: a batch clustered on dims 4-7, far from every centroid
    col.upsert(pts(range(1000, 1100), lambda i: 4 + i % 4))
    rep2 = col.optimize()
    assert rep2["ivf"] == "rebuilt_drift", rep2
    st2 = col.index_status()["ivf"]
    assert st2["fresh"]
    assert st2["drift_ratio"] is None, "rebuild must reset the drift series"
    # recall recovered: the shifted points are now first-class cells
    got = col.search_ivf(vec(1001, 5), limit=1).collect()
    assert got and got[0]["id"] == 1001

    # fresh-but-drifted entry path: a manual refresh leaves the index
    # fresh; optimize() must still see the drift and escalate
    col.upsert(pts(range(2000, 2100), lambda i: i % 2))  # back on dims 0-1
    col.upsert(pts(range(2100, 2200), lambda i: 2 + i % 2))
    # the rebuild above trained on the dims-4-7-heavy state; these new
    # batches land in old cells — refresh records their drift
    col.refresh_ivf_index()
    st3 = col.index_status()["ivf"]
    assert st3["fresh"]
    if st3["drift_ratio"] is not None and st3["drift_ratio"] >= 1.5:
        rep3 = col.optimize()
        assert rep3["ivf"] == "rebuilt_drift", rep3


def test_partial_compaction_below_pinned_snapshot(spark, tmp_path):
    """r9 directive 2: a live snapshot no longer blocks compaction — the
    fold collapses history BELOW the oldest pin (latest-wins base stamped
    at the pin, later batches/tombstones kept), so the snapshot stays
    restorable while read amplification below it is reclaimed."""
    import os as _os

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_partial"))
    col = cat.create_collection("pf", dim=4, auto_compact=False)

    def pts(ids, r=0):
        return spark.createDataFrame(
            [(i, [float(i % 5 + 1 + r)] * 4, {"r": str(r)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(10)))          # v1
    col.upsert(pts(range(10), r=1))     # v2 (v1 now dead weight)
    col.delete(point_ids=[9])           # v3
    col.create_snapshot("mid")          # pins v3
    col.upsert(pts(range(10), r=2))     # v4 (resurrects 9)
    col.delete(point_ids=[8])           # v5

    assert col.compact(respect_snapshots=True) is True
    info = cat._load()["pf"]
    assert info["compacted_at"] == 3, "partial fold must stamp the pin"

    # current state intact: ids 0..9 minus the v5 delete of 8
    live = {r["id"]: r["payload"]["r"] for r in col.df().collect()}
    assert set(live) == set(range(10)) - {8}
    assert all(v == "2" for v in live.values())

    # pinned state intact: v3 had ids 0..8 at r=1
    snap = {r["id"]: r["payload"]["r"] for r in col.df(as_of_version=3).collect()}
    assert set(snap) == set(range(9))
    assert all(v == "1" for v in snap.values())

    # history below the pin was actually reclaimed: raw rows = 9 folded
    # (state at v3) + 10 from batch v4 = 19, not the 30 of v1+v2+v4
    assert col._approx_live_rows() == 19

    # tombstone log shrank to the post-pin entries only (the v5 delete)
    tombs = spark.read.parquet(col._tombstone_path).collect()
    assert [(t["id"], t["version"]) for t in tombs] == [(8, 5)]

    # a second snapshot-respecting fold has nothing below the pin: declines
    assert col.compact(respect_snapshots=True) is False

    # restore still works end-to-end
    col.restore_snapshot("mid")
    restored = {r["id"]: r["payload"]["r"] for r in col.df().collect()}
    assert set(restored) == set(range(9))
    assert all(v == "1" for v in restored.values())


def test_tombstone_shrink_crash_recovery(spark, tmp_path):
    """r9: _shrink_tombstones' swap windows — a crash leaving the log
    renamed aside (or the complete shrunk copy staged) must be recovered
    by the next read instead of silently resurrecting deleted ids."""
    import os as _os
    import shutil as _shutil

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_shrinkcrash"))
    col = cat.create_collection("sc", dim=4, auto_compact=False)
    pts = spark.createDataFrame(
        [(i, [float(i + 1)] * 4, {"i": str(i)}) for i in range(10)],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    col.delete(point_ids=[0, 1])
    assert col.df().count() == 8
    tomb = col._tombstone_path

    # crash state A: log renamed aside, no staged copy (__preshrink only)
    _os.rename(tomb, tomb + "__preshrink")
    assert col.df().count() == 8, "preshrink fallback lost the tombstones"
    assert _os.path.exists(tomb)

    # crash state B: complete shrunk copy staged AND original aside —
    # recovery must prefer the staged one AND delete the sibling aside
    # (a zombie __preshrink would outlive a later full fold's rmtree of
    # the live log and get resurrected as the log the fold destroyed)
    _shutil.copytree(tomb, tomb + "__shrink")
    _os.rename(tomb, tomb + "__preshrink")
    assert col.df().count() == 8
    assert _os.path.exists(tomb)
    assert not _os.path.exists(tomb + "__shrink")
    assert not _os.path.exists(tomb + "__preshrink"), (
        "sibling aside dir survived recovery — zombie tombstone log"
    )
    # and the zombie scenario end-to-end: full fold then a fresh read
    # must NOT resurrect any aside copy
    _shutil.copytree(tomb, tomb + "__preshrink")
    col.compact()  # full fold clears the live log (and the asides)
    assert col.df().count() == 8
    assert not _os.path.exists(tomb), "full fold left a tombstone log"
    assert not _os.path.exists(tomb + "__preshrink")


def test_write_paths_recover_crashed_swaps_before_appending(spark, tmp_path):
    """r9 review: the append-side twins of the read-side recovery hooks.
    (a) upsert into a fold-crashed collection (self.path missing, full
    layout aside in __compact) must finish the swap FIRST — a plain
    append would recreate the path holding only the new batch and
    permanently orphan every pre-crash row. (b) delete into a
    shrink-crashed tombstone log must likewise recover the aside log
    before appending, or the pre-crash tombstones stop applying
    (deleted ids resurrect) until a later fold zombie-recovers them."""
    import os as _os

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_writecrash"))
    col = cat.create_collection("wc", dim=4, auto_compact=False)

    def pts(ids):
        return spark.createDataFrame(
            [(i, [float(i + 1)] * 4, {"i": str(i)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(10)))
    # (a) fold crash: data path renamed aside mid-swap
    _os.rename(col.path, col.path + "__compact")
    col.upsert(pts(range(100, 105)))
    assert col.df().count() == 15, "upsert orphaned the crashed fold's rows"
    assert not _os.path.exists(col.path + "__compact")

    # (b) shrink crash: tombstone log renamed aside mid-swap
    col.delete(point_ids=[0, 1])
    assert col.df().count() == 13
    tomb = col._tombstone_path
    _os.rename(tomb, tomb + "__preshrink")
    col.delete(point_ids=[100])
    assert col.df().count() == 12, (
        "delete recreated the tombstone log and resurrected ids 0/1"
    )
    assert not _os.path.exists(tomb + "__preshrink")


def test_auto_compact_policy_cannot_destroy_fold_crashed_collection(
    spark, tmp_path, monkeypatch
):
    """r9 review: _approx_live_rows must attempt fold recovery on the
    missing-path branch. Without it the policy reads a fold-crashed (but
    fully recoverable) collection as raw==0, and — because recovery
    mints no catalog version — compact()'s hint-version guard passes,
    firing the destructive empty branch on a populated collection."""
    import os as _os

    from vector_database_spark import catalog as cat_mod
    from vector_database_spark.catalog import Catalog

    monkeypatch.setattr(cat_mod, "AUTO_COMPACT_MIN_BATCHES", 1)
    cat = Catalog(spark, str(tmp_path / "cat_foldcrash_policy"))
    col = cat.create_collection("fp", dim=4)  # auto_compact ON
    pts = spark.createDataFrame(
        [(i, [float(i + 1)] * 4, {"i": str(i)}) for i in range(10)],
        "id long, embedding array<float>, payload map<string,string>",
    )
    col.upsert(pts)
    col.delete(point_ids=[0])  # a tombstone log, so raw==0 would fold
    # fold crash state observed by the NEXT policy evaluation
    _os.rename(col.path, col.path + "__compact")
    assert col._approx_live_rows() > 0, (
        "missing-path count did not recover the crashed fold"
    )
    assert _os.path.exists(col.path)
    # end-to-end: another delete triggers the policy; data must survive
    _os.rename(col.path, col.path + "__compact")
    col.delete(point_ids=[1])
    assert col.df().count() == 8, "policy destroyed a recoverable collection"


def test_ivf_drift_escalation_requires_volume(spark, tmp_path):
    """r9 review: the drift ratio weights refresh segments only against
    each other, so ONE junk outlier row yields ratio >> threshold — and
    since a rebuild resets the series, every later outlier would force
    another full KMeans retrain. Escalation must wait for a non-trivial
    refreshed volume (IVF_DRIFT_MIN_ROWS and 1% of build_rows); the
    ratio itself stays visible in index_status for monitoring."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_driftvol"))
    col = cat.create_collection("dv", dim=8, auto_compact=False)

    def vec(i, cluster, scale=10.0):
        base = [0.0] * 8
        base[cluster] = scale
        return [
            base[j] + ((i * 31 + j * 7) % 11 - 5) * 0.02 for j in range(8)
        ]

    def pts(rows):
        return spark.createDataFrame(
            [(i, v, {"i": str(i)}) for i, v in rows],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts([(i, vec(i, i % 4)) for i in range(200)]))
    col.build_ivf_index(n_centroids=4)

    # one far outlier: enormous per-row drift, trivial volume
    col.upsert(pts([(9999, [100.0] * 8)]))
    rep = col.optimize()
    assert rep["ivf"] == "refreshed", (
        f"single outlier forced a rebuild: {rep}"
    )
    st = col.index_status()["ivf"]
    assert st["drift_ratio"] is not None and st["drift_ratio"] >= 1.5, (
        "monitoring ratio must stay visible below the volume floor"
    )
    assert st["drift_rows"] == 1

    # a real shifted batch (>= 64 rows and >= 1% of build) escalates
    col.upsert(pts([(i, vec(i, 4 + i % 4)) for i in range(1000, 1100)]))
    rep2 = col.optimize()
    assert rep2["ivf"] == "rebuilt_drift", rep2
    assert col.index_status()["ivf"]["drift_ratio"] is None


def test_lsh_width_outgrown_escalates_rebuild(spark, tmp_path, monkeypatch):
    """r9: an AUTO-width LSH layout the collection has outgrown
    (_auto_lsh_bits(live) > pinned bits) must escalate optimize()'s
    refresh to a rebuild at the re-derived width ('rebuilt_width');
    explicitly pinned widths never escalate — the caller's choice
    stands. The formula itself is unit-tested in test_ann.py; this
    gates the MECHANISM via a monkeypatched derivation."""
    from vector_database_spark import operators
    from vector_database_spark.catalog import Catalog
    from vector_database_spark.operators import ann as ann_mod

    cat = Catalog(spark, str(tmp_path / "cat_width"))
    col = cat.create_collection("wd", dim=4, auto_compact=False)

    def vec(i):
        return [float((i * 31 + j * 7) % 11) + 1.0 for j in range(4)]

    def pts(ids):
        return spark.createDataFrame(
            [(i, vec(i), {"i": str(i)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(40)))
    col.build_lsh_index(bits=None, tables=2)  # auto width → floor (6)
    import json as _json
    import os as _os

    meta_path = _os.path.join(col._index_path("lsh"), "_index_meta.json")
    with open(meta_path) as fh:
        built_bits = _json.load(fh)["bits"]

    # grown collection: the derivation now picks a wider layout
    col.upsert(pts(range(40, 60)))
    monkeypatch.setattr(ann_mod, "_auto_lsh_bits", lambda n: built_bits + 2)
    rep = col.optimize()
    assert rep["lsh"] == "rebuilt_width", rep
    with open(meta_path) as fh:
        meta = _json.load(fh)
    assert meta["bits"] == built_bits + 2
    assert meta["build_params"]["bits"] is None  # intent stays auto
    # vec() repeats with period 11, so top-1 is the lowest-id exact
    # duplicate of vec(50) — same direction, id tie-break
    top = col.search_lsh(vec(50), limit=1).collect()[0]
    assert top["id"] % 11 == 50 % 11

    # pinned width: never escalates, refresh suffices
    col2 = cat.create_collection("wd2", dim=4, auto_compact=False)
    col2.upsert(pts(range(40)))
    col2.build_lsh_index(bits=6, tables=2)
    col2.upsert(pts(range(40, 60)))
    rep2 = col2.optimize()
    assert rep2["lsh"] == "refreshed", rep2


def test_delete_snapshot_releases_history_for_partial_fold(spark, tmp_path):
    """r9: delete_snapshot (Qdrant delete_snapshot parity) removes the
    pin, and with it its hold on the compaction policy — the next
    snapshot-respecting fold reclaims the history the pin was guarding."""
    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_delsnap"))
    col = cat.create_collection("ds", dim=4, auto_compact=False)

    def pts(ids, r=0):
        return spark.createDataFrame(
            [(i, [float(i % 5 + 1 + r)] * 4, {"r": str(r)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(10)))           # v1
    col.create_snapshot("old")           # pins v1
    col.upsert(pts(range(10), r=1))      # v2
    col.upsert(pts(range(10), r=2))      # v3

    # pinned at v1: the respecting fold stops AT the pin (v1 is the first
    # batch, so it reclaims nothing) and stamps compacted_at there; once
    # stamped, further respecting folds decline — v2/v3 churn is pinned
    assert col.compact(respect_snapshots=True) is True
    assert cat._load()["ds"]["compacted_at"] == 1
    assert col.compact(respect_snapshots=True) is False
    assert col._approx_live_rows() == 30  # v2+v3 still guarded by the pin

    with _pytest.raises(KeyError):
        col.delete_snapshot("nope")
    col.delete_snapshot("old")
    assert "old" not in col.list_snapshots()

    # pin gone: the respecting fold now folds the whole history
    assert col.compact(respect_snapshots=True) is True
    assert cat._load()["ds"]["compacted_at"] == 3
    assert col._approx_live_rows() == 10  # v1+v2 dead rows reclaimed
    live = {r["id"]: r["payload"]["r"] for r in col.df().collect()}
    assert set(live) == set(range(10)) and all(v == "2" for v in live.values())


def test_lifecycle_random_ops_with_snapshots(spark, tmp_path, monkeypatch):
    """r9 capstone: the r8 lifecycle net extended with SNAPSHOT ops —
    create/restore/delete_snapshot interleaved with writes, deletes and
    folds, with auto-compaction folding aggressively (now PARTIALLY
    around live pins). Invariants at every step:

      * count() equals the python-model live set
      * every tracked snapshot whose pin survived the folds time-travels
        to EXACTLY its recorded state (ids and revisions) — the partial
        fold must never corrupt pinned history
      * a restore rolls the live state back to the recorded model
      * a snapshot folded away by a manual full compact() raises loudly
        on restore (never a silent partial state)
      * search_auto never serves a non-live id
    """
    import random

    from vector_database_spark import catalog as cat_mod
    from vector_database_spark.catalog import Catalog

    monkeypatch.setattr(cat_mod, "AUTO_COMPACT_MIN_BATCHES", 3)
    rng = random.Random(1337)
    cat = Catalog(spark, str(tmp_path / "cat_snaplife"))
    col = cat.create_collection("sl", dim=6)
    model: dict[int, int] = {}
    snaps: dict[str, tuple[int, dict[int, int]]] = {}  # name -> (pin, model)
    n_snaps = 0

    def vec(i, rev):
        return [
            ((i * 977 + j * 131 + rev * 7919) % 1009) / 504.0 - 1.0
            + (2.0 if j == 0 else 0.0)
            for j in range(6)
        ]

    def pts(pairs):
        return spark.createDataFrame(
            [(i, vec(i, r), {"rev": str(r)}) for i, r in pairs],
            "id long, embedding array<float>, payload map<string,string>",
        )

    next_id = 0

    def op_upsert():
        nonlocal next_id
        fresh = [(next_id + k, 0) for k in range(rng.randint(3, 10))]
        next_id += len(fresh)
        updates = [
            (i, model[i] + 1)
            for i in rng.sample(sorted(model), min(len(model), rng.randint(0, 5)))
        ]
        batch = fresh + updates
        col.upsert(pts(batch))
        model.update(dict(batch))

    def op_delete():
        if not model:
            return
        doomed = rng.sample(sorted(model), rng.randint(1, max(1, len(model) // 3)))
        col.delete(point_ids=doomed)
        for i in doomed:
            model.pop(i)

    def op_snapshot():
        nonlocal n_snaps
        if len(snaps) >= 3:
            return
        name = f"s{n_snaps}"
        n_snaps += 1
        col.create_snapshot(name)
        snaps[name] = (cat._load()["sl"]["version"], dict(model))

    def op_restore():
        if not snaps:
            return
        name = rng.choice(sorted(snaps))
        pin, snap_model = snaps[name]
        compacted_at = cat._load()["sl"].get("compacted_at", 0)
        if pin < compacted_at:
            import pytest as _pytest

            with _pytest.raises(ValueError, match="folded away"):
                col.restore_snapshot(name)
            del snaps[name]
            return
        col.restore_snapshot(name)
        model.clear()
        model.update(snap_model)

    def op_delete_snapshot():
        if not snaps:
            return
        name = rng.choice(sorted(snaps))
        col.delete_snapshot(name)
        del snaps[name]

    def op_compact_respecting():
        col.compact(respect_snapshots=True)

    def op_compact_full():
        col.compact()  # may fold pinned history — restore must then raise

    ops = [op_upsert, op_upsert, op_upsert, op_delete, op_snapshot,
           op_snapshot, op_restore, op_delete_snapshot,
           op_compact_respecting, op_compact_full]
    op_upsert()
    for step in range(22):
        op = rng.choice(ops)
        op()
        # ---- invariants ---------------------------------------------------
        assert col.count() == len(model), (
            f"step {step}: count drift after {op.__name__}"
        )
        compacted_at = cat._load()["sl"].get("compacted_at", 0)
        for name, (pin, snap_model) in sorted(snaps.items()):
            if pin < compacted_at:
                continue  # folded away — restore raises, checked in op
            seen = {
                r["id"]: int(r["payload"]["rev"])
                for r in col.df(as_of_version=pin).collect()
            }
            assert seen == snap_model, (
                f"step {step}: snapshot {name} (pin v{pin}) corrupted "
                f"after {op.__name__}"
            )
        probe = vec(rng.randint(0, max(next_id - 1, 0)), 0)
        got = [r["id"] for r in col.search_auto(probe, limit=5).collect()]
        assert all(i in model for i in got), (
            f"step {step}: search_auto served non-live ids after {op.__name__}"
        )


def test_partial_fold_crash_sweep_every_fs_op(spark, tmp_path, monkeypatch):
    """r9: inject a crash at EVERY python-level filesystem mutation
    (os.rename / os.replace / shutil.rmtree under the catalog root)
    during a snapshot-respecting PARTIAL fold — the newest, most
    rename-heavy path (data swap + catalog stamp + tombstone shrink).
    After each simulated crash the collection must read correctly (live
    set AND pinned time travel — the recovery hooks fire on the next
    read), and a retried fold completes and stays correct. Spark's own
    parquet task commits are Java-side and atomic via staging dirs —
    out of scope; the recovery hooks prefer COMPLETE directories,
    which an interrupted Spark write never impersonates."""
    import os as _os
    import shutil as _shutil

    from vector_database_spark.catalog import Catalog

    def build_source(root):
        cat = Catalog(spark, root)
        col = cat.create_collection("cs", dim=4, auto_compact=False)

        def pts(ids, r=0):
            return spark.createDataFrame(
                [(i, [float(i % 5 + 1 + r)] * 4, {"r": str(r)}) for i in ids],
                "id long, embedding array<float>, payload map<string,string>",
            )

        col.upsert(pts(range(10)))          # v1
        col.upsert(pts(range(10), r=1))     # v2
        col.delete(point_ids=[9])           # v3
        col.create_snapshot("pin")          # pins v3 (9 live rows, r=1)
        col.upsert(pts(range(10), r=2))     # v4
        col.delete(point_ids=[8])           # v5
        return cat

    src = str(tmp_path / "src")
    build_source(src)

    class Boom(RuntimeError):
        pass

    real_rename, real_replace, real_rmtree = _os.rename, _os.replace, _shutil.rmtree

    def verify(cat, expect_compacted=None):
        col = cat.collection("cs")
        live = {r["id"]: r["payload"]["r"] for r in col.df().collect()}
        assert set(live) == set(range(10)) - {8}
        assert all(v == "2" for v in live.values())
        snap = {r["id"]: r["payload"]["r"] for r in col.df(as_of_version=3).collect()}
        assert set(snap) == set(range(9)) and all(v == "1" for v in snap.values())
        if expect_compacted is not None:
            assert cat._load()["cs"].get("compacted_at", 0) == expect_compacted

    def run_with_crash(root, crash_at):
        """Run the fold failing at the crash_at-th fs op under root;
        returns ops seen (crash_at > ops => clean run)."""
        seen = [0]

        def guard(fn):
            def wrapped(path, *a, **k):
                if str(path).startswith(root):
                    seen[0] += 1
                    if seen[0] == crash_at:
                        raise Boom(f"simulated crash at fs op {crash_at}")
                return fn(path, *a, **k)

            return wrapped

        monkeypatch.setattr(_os, "rename", guard(real_rename))
        monkeypatch.setattr(_os, "replace", guard(real_replace))
        monkeypatch.setattr(_shutil, "rmtree", guard(real_rmtree))
        try:
            cat = Catalog(spark, root)
            try:
                cat.collection("cs").compact(respect_snapshots=True)
            except Boom:
                pass
        finally:
            monkeypatch.setattr(_os, "rename", real_rename)
            monkeypatch.setattr(_os, "replace", real_replace)
            monkeypatch.setattr(_shutil, "rmtree", real_rmtree)
        return seen[0]

    # dry run on a scratch copy to count the ops
    scratch = str(tmp_path / "dry")
    _shutil.copytree(src, scratch)
    n_ops = run_with_crash(scratch, crash_at=10**9)
    assert n_ops >= 6, f"expected a rename-heavy fold, saw {n_ops} fs ops"

    for k in range(1, n_ops + 1):
        root = str(tmp_path / f"crash{k}")
        _shutil.copytree(src, root)
        run_with_crash(root, crash_at=k)
        cat = Catalog(spark, root)
        verify(cat)  # reads correct straight through the crash state
        # retry completes (or legitimately declines if the crash landed
        # AFTER the stamp — the fold already happened) and stays correct
        cat.collection("cs").compact(respect_snapshots=True)
        verify(cat, expect_compacted=3)


def test_ivf_cells_outgrown_escalates_rebuild(spark, tmp_path, monkeypatch):
    """r9: an AUTO-sized IVF index whose collection has outgrown its
    cell count (_auto_n_centroids(live) >= 2x built k) must escalate
    optimize()'s refresh to a rebuild at the re-derived k — the growth
    mode the drift ratio cannot see (same-distribution writes keep
    drift ~1 while per-cell scan cost balloons). Pinned cell counts
    never escalate."""
    import json as _json
    import os as _os

    from vector_database_spark.catalog import Catalog
    from vector_database_spark.operators import ann as ann_mod

    cat = Catalog(spark, str(tmp_path / "cat_cells"))
    col = cat.create_collection("cl", dim=4, auto_compact=False)

    def vec(i):
        # distinct per id (period 1009 >> n): KMeans can only produce as
        # many centroids as there are distinct points
        return [((i * 97 + j * 131) % 1009) / 504.0 + 0.01 for j in range(4)]

    def pts(ids):
        return spark.createDataFrame(
            [(i, vec(i), {"i": str(i)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(60)))
    col.build_ivf_index(n_centroids=None)  # auto → _auto_n_centroids(60)
    meta_path = _os.path.join(col._index_path("ivf"), "_index_meta.json")
    with open(meta_path) as fh:
        built_k = len(_json.load(fh)["centroids"])

    # same-distribution growth: drift stays ~1, but the derivation now
    # wants >= 2x the cells
    col.upsert(pts(range(60, 100)))
    monkeypatch.setattr(ann_mod, "_auto_n_centroids", lambda n: 2 * built_k)
    rep = col.optimize()
    assert rep["ivf"] == "rebuilt_width", rep
    with open(meta_path) as fh:
        meta = _json.load(fh)
    assert len(meta["centroids"]) == 2 * built_k
    assert meta["build_params"]["n_centroids"] is None  # intent stays auto
    monkeypatch.undo()

    # pinned cell count: refresh suffices, never escalates
    col2 = cat.create_collection("cl2", dim=4, auto_compact=False)
    col2.upsert(pts(range(60)))
    col2.build_ivf_index(n_centroids=4)
    col2.upsert(pts(range(60, 100)))
    rep2 = col2.optimize()
    assert rep2["ivf"] == "refreshed", rep2


def test_near_duplicates_auto_routing(catalog, spark, monkeypatch):
    """use_index=None auto-routes by corpus size with the inspectable
    dispatch discipline of search_auto (r9 directive): the sign-bucket
    scan below the measured crossover, the LSH probe past it when a
    fresh index covers the version, degrade-to-scan when none does."""
    col = catalog.create_collection("croute", dim=4)
    col.upsert(
        _points(
            spark,
            [(i, [float(i % 3 + 1), 1.0, -1.0, 0.5], str(i)) for i in range(20)],
        )
    )
    big = col.NEARDUP_PROBE_MIN_ROWS
    # below the crossover: scan, with or without an index
    assert col.route_for_near_duplicates() == "scan"
    col.build_lsh_index()
    assert col.route_for_near_duplicates() == "scan"
    # past the crossover with a fresh index: probe
    assert col.route_for_near_duplicates(rows_hint=big) == "probe"
    # past the crossover, index stale after a write: degrade to scan
    col.upsert(_points(spark, [(99, [0.5, 0.5, 0.5, 0.5], "w")]))
    assert col.route_for_near_duplicates(rows_hint=big) == "scan"
    col.refresh_lsh_index()
    assert col.route_for_near_duplicates(rows_hint=big) == "probe"

    # the default dispatch honors the route: pin the size hint high and
    # observe which physical path near_duplicates(use_index=None) takes
    calls = []
    real_indexed = type(col)._near_duplicates_indexed

    def spy(self, points, thr):
        calls.append("probe")
        return real_indexed(self, points, thr)

    monkeypatch.setattr(type(col), "_near_duplicates_indexed", spy)
    batch = _points(spark, [(500, [1.0, 1.0, -1.0, 0.5], "b")])
    monkeypatch.setattr(type(col), "_approx_live_rows", lambda self: big)
    col.near_duplicates(batch)
    assert calls == ["probe"]
    # a tuned n_bucket_words is a scan knob — it pins the scan even past
    # the crossover (no ValueError from the probe's knob guard)
    col.near_duplicates(batch, n_bucket_words=1)  # probe again
    assert calls == ["probe", "probe"]
    monkeypatch.setattr(
        type(col), "_approx_live_rows", lambda self: big - 1
    )
    col.near_duplicates(batch)  # below crossover: scan — spy not called
    assert calls == ["probe", "probe"]


def test_near_duplicates_scan_validates_bucket_words(catalog, spark):
    """n_bucket_words beyond ceil(dim/32) raises a clear ValueError on
    the scan path (r9 ADVICE: it used to surface as a negative-length
    slice deep inside _sign_bucket_words)."""
    col = catalog.create_collection("cval", dim=4)
    col.upsert(_points(spark, [(1, [1, 0, 0, 0], "a")]))
    batch = _points(spark, [(2, [1, 0, 0, 0], "b")])
    with pytest.raises(ValueError, match="sign-word capacity"):
        col.near_duplicates(batch, n_bucket_words=2, use_index=False)
    # the operator-level guard fires too when called directly
    from vector_database_spark.operators import dedup as _dedup

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="sign-word capacity"):
        _dedup.semdedup_pairs(emb, dim=4, n_bucket_words=2).collect()


def test_nsw_refresh_incremental(spark, tmp_path):
    """r9 directive 1 (landed r10): refresh_nsw_index folds writes since
    the build into the graph index WITHOUT a rebuild — delta rows build
    a small NSW segment in disjoint _b partitions, superseded ids drop
    via the side mask, and the existing every-bucket beam merge composes
    the segments for free. Contract: after refresh the index is fresh,
    an updated point is served its NEW vector, deleted ids are gone, new
    points are findable, search_auto_batch routes through the refreshed
    graph, refresh is idempotent, and recall vs a full rebuild holds."""
    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_nswrefresh"))
    col = cat.create_collection("nswr", dim=8, auto_compact=False)

    # pseudo-random directions (NOT the small-lattice fixture other
    # catalog tests use): lattice vectors produce thickets of
    # near-identical directions whose NSW graphs disconnect under
    # prune-back — a data-quality property of the fixture, present on a
    # fresh build too (0.88 recall at an exhaustive beam), that would
    # drown the refresh-vs-rebuild comparison this test is about
    import random as _random

    def vec(i, bump=0.0):
        rng = _random.Random(i * 7919 + 13)
        return [rng.uniform(-1, 1) + bump for _ in range(8)]

    def pts(ids, bump=0.0):
        return spark.createDataFrame(
            [(i, vec(i, bump), {"i": str(i)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(400)))
    col.build_nsw_index(n_buckets=2)

    # writes AFTER the build: 50 new, 10 updated, 10 deleted
    col.upsert(pts(range(400, 450)))
    col.upsert(pts(range(10), bump=0.5))
    col.delete(point_ids=list(range(390, 400)))

    qv = vec(5, bump=0.5)  # the UPDATED vector of id 5
    with _pytest.raises(ValueError, match="refresh_nsw_index"):
        col.search_nsw(qv)
    assert not col.index_status()["nsw"]["fresh"]

    appended = col.refresh_nsw_index()
    assert appended == 60  # 50 new + 10 updated live rows
    st = col.index_status()["nsw"]
    assert st["fresh"]
    assert st["delta_rows"] == 60
    assert 0 < st["delta_fraction"] < 0.5

    # the updated point is served its NEW vector (it lives in the delta
    # segment; its base-graph copy is masked out)
    got = [r["id"] for r in col.search_nsw(qv, limit=1).collect()]
    assert got == [5]
    # a deleted id never comes back, even searched by its own old vector
    got_del = {
        r["id"] for r in col.search_nsw(vec(395), limit=10).collect()
    }
    assert not (got_del & set(range(390, 400)))
    # a NEW point is findable through its own segment's graph
    got_new = [r["id"] for r in col.search_nsw(vec(425), limit=1).collect()]
    assert got_new == [425]

    # search_auto_batch routes through the refreshed graph
    assert col.route_for_search() == "nsw"
    b = {
        (r["qid"], r["id"])
        for r in col.search_auto_batch([(0, vec(425)), (1, qv)], limit=1).collect()
    }
    assert b == {(0, 425), (1, 5)}

    # idempotent: nothing new to fold
    assert col.refresh_nsw_index() == 0

    # recall vs a full rebuild on the same state (the r9 'done' gate:
    # within 2 recall points — here top-5 sets over 20 probes)
    queries = [(i, vec(17 * i + 3)) for i in range(20)]
    refreshed = {
        (r["qid"], r["id"])
        for r in col.search_auto_batch(queries, limit=5).collect()
    }
    col.build_nsw_index(n_buckets=2)  # consolidate
    rebuilt = {
        (r["qid"], r["id"])
        for r in col.search_auto_batch(queries, limit=5).collect()
    }
    overlap = len(refreshed & rebuilt) / max(len(rebuilt), 1)
    assert overlap >= 0.98, f"refreshed-vs-rebuilt recall {overlap}"


def test_ivfpq_refresh_incremental_and_codebook_drift(spark, tmp_path):
    """r9 directive 7 (landed r10): refresh_ivfpq_index encodes delta
    rows with the PINNED centroids+codebooks (new __seg + mask — no
    retrain), tracking mean ADC reconstruction error as the codebook
    drift statistic; index_status surfaces the ratio and optimize()
    escalates to a full rebuild when a shifted batch lands, after which
    recall on the shifted points recovers."""
    import pytest as _pytest

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_pqdrift"))
    col = cat.create_collection("pqd", dim=8, auto_compact=False)

    def vec(i, cluster, scale=10.0):
        base = [0.0] * 8
        base[cluster] = scale
        return [
            base[j] + ((i * 31 + j * 7) % 11 - 5) * 0.02 for j in range(8)
        ]

    def pts(ids, cluster_of):
        return spark.createDataFrame(
            [(i, vec(i, cluster_of(i)), {"i": str(i)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    # build distribution: 4 tight clusters on dims 0-3
    col.upsert(pts(range(200), lambda i: i % 4))
    col.build_ivfpq_index(n_centroids=4, m=4, ksub=8)
    st = col.index_status()["ivfpq"]
    assert st["fresh"] and st["drift_ratio"] is None

    # same-distribution delta: refresh folds it, drift stays ~1, and the
    # refreshed rows are served (staleness raises before, not after)
    col.upsert(pts(range(200, 260), lambda i: i % 4))
    with _pytest.raises(ValueError, match="refresh_ivfpq_index"):
        col.search_ivfpq(vec(201, 1))
    appended = col.refresh_ivfpq_index()
    assert appended == 60
    st1 = col.index_status()["ivfpq"]
    assert st1["fresh"]
    assert st1["drift_ratio"] is not None and st1["drift_ratio"] < 1.5, (
        f"healthy refresh drifted: {st1['drift_ratio']}"
    )
    # the fixture's jitter has period 44 in id, so vec(201,1) is shared
    # EXACTLY by {25,69,113,157} (base) and {201,245} (delta): top-6 must
    # be that twin set — which proves the refreshed segment rows 201/245
    # are served next to their base twins through one resolved layout
    twins = {25, 69, 113, 157, 201, 245}
    got = {
        r["id"]
        for r in col.search_ivfpq(vec(201, 1), limit=6, nprobe=4).collect()
    }
    assert got == twins
    # a deleted id vanishes through the mask
    col.delete(point_ids=[201])
    col.refresh_ivfpq_index()
    got2 = {
        r["id"]
        for r in col.search_ivfpq(vec(201, 1), limit=10, nprobe=4).collect()
    }
    assert 201 not in got2
    # idempotent
    assert col.refresh_ivfpq_index() == 0

    # planted shift: a batch clustered on dims 4-7 — the pinned codebooks
    # reconstruct it badly; optimize() must escalate refresh→rebuild
    col.upsert(pts(range(1000, 1100), lambda i: 4 + i % 4))
    rep = col.optimize()
    assert rep["ivfpq"] == "rebuilt_drift", rep
    st2 = col.index_status()["ivfpq"]
    assert st2["fresh"]
    assert st2["drift_ratio"] is None, "rebuild must reset the drift series"
    # recall recovered: the shifted points quantize into retrained books
    # (vec(1001,5)'s exact twins in the shifted batch are 1001/1045/1089
    # — the period-44 jitter again)
    got3 = {
        r["id"]
        for r in col.search_ivfpq(vec(1001, 5), limit=3).collect()
    }
    assert got3 == {1001, 1045, 1089}


def test_nsw_delta_fraction_escalation(spark, tmp_path):
    """r10: NSW's rebuild-escalation signal is the accumulated
    delta-row fraction (no per-row drift statistic exists for a graph) —
    past NSW_DELTA_REBUILD_FRACTION of build_rows, optimize()
    consolidates into one full graph instead of refreshing again."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_nswfrac"))
    col = cat.create_collection("nswf", dim=8, auto_compact=False)

    def pts(ids):
        return spark.createDataFrame(
            [
                (
                    i,
                    [((i * 977 + j * 131) % 1009) / 504.0 - 1.0 for j in range(8)],
                    {"i": str(i)},
                )
                for i in ids
            ],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(100)))
    col.build_nsw_index(n_buckets=1)

    # small delta: refresh, no escalation
    col.upsert(pts(range(100, 120)))
    assert col.optimize()["nsw"] == "refreshed"
    assert col.index_status()["nsw"]["delta_fraction"] == 0.2

    # pile on past the 0.5 fraction: optimize consolidates (r11 — the
    # segment merge replaced the full rebuild on this escalation path)
    col.upsert(pts(range(120, 160)))
    rep = col.optimize()
    assert rep["nsw"] == "consolidated", rep
    st = col.index_status()["nsw"]
    assert st["fresh"] and st["delta_rows"] == 0
    assert st["delta_fraction"] == 0.0
    # the consolidated graph serves everything
    got = [
        r["id"]
        for r in col.search_nsw(
            [((150 * 977 + j * 131) % 1009) / 504.0 - 1.0 for j in range(8)],
            limit=1,
        ).collect()
    ]
    assert got == [150]


def test_multi_segment_refresh_chains(spark, tmp_path):
    """Two sequential refreshes per family (r10): the layout then holds
    base + seg1 + seg2, an id updated in seg1 and AGAIN in seg2 is
    served only its newest vector, seg1-only rows survive seg2, and a
    delete folded in seg2 kills a row that seg1 itself introduced."""
    import random as _random

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_multiseg"))
    col = cat.create_collection("ms", dim=8, auto_compact=False)
    persistent_before = (
        spark._jsparkSession.sparkContext().getPersistentRDDs().size()
    )

    def vec(i, salt=0):
        rng = _random.Random(i * 9973 + salt * 131 + 7)
        return [rng.uniform(-1, 1) for _ in range(8)]

    def pts(rows):
        return spark.createDataFrame(
            [(i, v, {"i": str(i)}) for i, v in rows],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts([(i, vec(i)) for i in range(300)]))
    col.build_nsw_index(n_buckets=2)
    col.build_ivfpq_index(n_centroids=4, m=4, ksub=8)

    # seg1: new ids 300-319, update id 7, introduce id 500
    col.upsert(
        pts([(i, vec(i)) for i in range(300, 320)]
            + [(7, vec(7, salt=1)), (500, vec(500))])
    )
    assert col.refresh_nsw_index() == 22
    assert col.refresh_ivfpq_index() == 22

    # seg2: update id 7 AGAIN, delete the seg1-born id 500, add 600
    col.upsert(pts([(7, vec(7, salt=2)), (600, vec(600))]))
    col.delete(point_ids=[500])
    assert col.refresh_nsw_index() == 2
    assert col.refresh_ivfpq_index() == 2

    for search in (
        lambda q, k: col.search_nsw(q, limit=k),
        lambda q, k: col.search_ivfpq(q, limit=k, nprobe=4),
    ):
        # id 7 serves ONLY its seg2 vector: exact probe of each vintage
        assert [r["id"] for r in search(vec(7, salt=2), 1).collect()] == [7]
        got_old = {
            (r["id"], r["score"]) for r in search(vec(7, salt=1), 3).collect()
        }
        assert not any(i == 7 and s >= 0.999999 for i, s in got_old), (
            "seg1 copy of id 7 still served"
        )
        # a seg1-only row (310) and a seg2 row (600) are both findable
        assert [r["id"] for r in search(vec(310), 1).collect()] == [310]
        assert [r["id"] for r in search(vec(600), 1).collect()] == [600]
        # the seg1-born id deleted in the seg2 window is gone
        got_del = {r["id"] for r in search(vec(500), 10).collect()}
        assert 500 not in got_del

    # the three-segment NSW layout really is three bucket groups
    from pyspark.sql import functions as F

    segs = {
        r["__seg"]
        for r in col._read_masked_layout("nsw").select("__seg").distinct().collect()
    }
    assert segs == {0, 1, 2}
    # consolidation folds it back to one
    col.build_nsw_index(n_buckets=2)
    assert col.index_status()["nsw"]["delta_rows"] == 0

    # ADVICE r10: the refresh protocol must RELEASE its localCheckpoint
    # pins (written/superseded/live + the NSW delta graph) — four
    # refreshes ran above, so any leak shows up as lingering persistent
    # RDDs. A long-lived ingest session refreshing on a cadence would
    # otherwise accumulate executor storage without bound.
    n_persistent = (
        spark._jsparkSession.sparkContext().getPersistentRDDs().size()
    )
    assert n_persistent <= persistent_before, (
        f"refresh chain leaked {n_persistent - persistent_before} "
        "persistent RDDs (checkpoint pins not released)"
    )


def test_nsw_delete_churn_triggers_consolidation(spark, tmp_path):
    """r10 review: delete-only churn appends ZERO delta rows but masks
    base graph nodes out — the escalation signal must count superseded
    ids, or a delete-heavy workload erodes the graph forever without a
    consolidation ever firing."""
    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_nswdel"))
    col = cat.create_collection("nswd", dim=8, auto_compact=False)

    def pts(ids):
        return spark.createDataFrame(
            [
                (
                    i,
                    [((i * 977 + j * 131) % 1009) / 504.0 - 1.0 for j in range(8)],
                    {"i": str(i)},
                )
                for i in ids
            ],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(100)))
    col.build_nsw_index(n_buckets=1)

    # delete 30%: refresh appends nothing, but churn is visible
    col.delete(point_ids=list(range(30)))
    assert col.optimize()["nsw"] == "refreshed"
    st = col.index_status()["nsw"]
    assert st["delta_rows"] == 0
    assert st["delta_fraction"] == 0.3

    # delete past the 0.5 fraction: optimize CONSOLIDATES (r11 — the
    # segment merge replaced the full rebuild on this escalation path)
    col.delete(point_ids=list(range(30, 60)))
    rep = col.optimize()
    assert rep["nsw"] == "consolidated", rep
    st2 = col.index_status()["nsw"]
    assert st2["fresh"] and st2["delta_fraction"] == 0.0
    # the consolidated graph is mask-free and serves correctly: survivors
    # findable by their own vectors, deleted ids gone
    def v(i):
        return [((i * 977 + j * 131) % 1009) / 504.0 - 1.0 for j in range(8)]

    assert [r["id"] for r in col.search_nsw(v(80), limit=1).collect()] == [80]
    got = {r["id"] for r in col.search_nsw(v(10), limit=10).collect()}
    assert got.isdisjoint(set(range(60)))


def test_nsw_consolidation_merges_segments_and_matches_rebuild(
    spark, tmp_path
):
    """r10 verdict directive 5: past the delta-fraction escalation,
    optimize() CONSOLIDATES the NSW segments (re-insert delta rows into
    the kept base graphs) instead of re-training all N. Contract: the
    post state is structurally a rebuild's (one __seg=0 layout over the
    base bucket range, masks gone, escalation reset), updated ids serve
    their newest vector, deleted ids are gone, every live id is findable
    by its own vector, and recall on a probe set matches a from-scratch
    rebuild of the same corpus within 2 points."""
    import os
    import random as _random

    from pyspark.sql import functions as F

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_nswcons"))
    col = cat.create_collection("nswc", dim=8, auto_compact=False)

    def vec(i, bump=0.0):
        rng = _random.Random(i * 7919 + 13)
        return [rng.uniform(-1, 1) + bump for _ in range(8)]

    def pts(ids, bump=0.0):
        return spark.createDataFrame(
            [(i, vec(i, bump), {"i": str(i)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(400)))
    col.build_nsw_index(n_buckets=2)

    # churn past 0.5 of build_rows across two refresh segments:
    # 150 new + 60 updated + 20 deleted = 230/400
    col.upsert(pts(range(400, 500)))
    col.upsert(pts(range(60), bump=0.4))
    assert col.refresh_nsw_index() == 160
    col.upsert(pts(range(500, 550)))
    col.delete(point_ids=list(range(380, 400)))
    assert col.refresh_nsw_index() == 50

    rep = col.optimize()
    assert rep["nsw"] == "consolidated", rep

    # structurally a rebuild: one segment, base bucket range, no masks
    layout = col._read_masked_layout("nsw")
    assert {r["__seg"] for r in layout.select("__seg").distinct().collect()} == {0}
    assert {
        r["_b"] for r in layout.select("_b").distinct().collect()
    } <= {0, 1}
    assert not os.path.exists(col._mask_path("nsw"))
    st = col.index_status()["nsw"]
    assert st["fresh"] and st["delta_fraction"] == 0.0
    n_live = col.df().count()
    assert layout.count() == n_live == 530

    # served correctly: updated id's NEW vector wins, deleted gone,
    # delta-born ids findable
    assert [r["id"] for r in col.search_nsw(vec(7, 0.4), limit=1).collect()] == [7]
    got = {r["id"] for r in col.search_nsw(vec(385), limit=10).collect()}
    assert 385 not in got
    assert [r["id"] for r in col.search_nsw(vec(520), limit=1).collect()] == [520]

    # recall vs a from-scratch rebuild of the same corpus: probe 25
    # live ids by their own vectors, top-5 overlap within 2 points
    probes = [(i, vec(i, 0.4) if i < 60 else vec(i)) for i in range(0, 500, 20)]

    def recall(c):
        hits = 0
        for qid, qv in probes:
            ids = {r["id"] for r in c.search_nsw(qv, limit=5).collect()}
            e = F.col("embedding").cast("array<double>")
            dot = F.aggregate(
                F.zip_with(
                    e,
                    F.array(*[F.lit(float(x)) for x in qv]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            nrm = F.sqrt(
                F.aggregate(
                    F.zip_with(e, e, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            exact = {
                r["id"]
                for r in c.df()
                .select("id", (dot / nrm).alias("cos"))
                .orderBy(F.col("cos").desc())
                .limit(5)
                .collect()
            }
            hits += len(ids & exact)
        return hits / (5 * len(probes))

    rec_consolidated = recall(col)
    col2 = cat.create_collection("nswc2", dim=8, auto_compact=False)
    col2.upsert(col.df().select("id", "embedding", "payload"))
    col2.build_nsw_index(n_buckets=2)
    rec_rebuilt = recall(col2)
    assert rec_consolidated >= rec_rebuilt - 0.02, (
        f"consolidated recall {rec_consolidated} vs rebuild {rec_rebuilt}"
    )


def test_flat_layout_mask_consolidation(spark, tmp_path):
    """r11: the non-graph families shed mask/segment debt WITHOUT
    retraining — once a family's side mask reaches half its layout
    (footer counts), optimize() rewrites the masked view mask-free
    ('consolidated'). Pinned centroids/hyperplanes/codebooks and the
    accumulated drift evidence survive verbatim; searches are
    identical; later refreshes keep working (segment ids never
    reused)."""
    import json
    import os
    import random as _random

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_flatcons"))
    col = cat.create_collection("fc", dim=8, auto_compact=False)

    def vec(i, salt=0):
        rng = _random.Random(i * 7919 + salt * 31 + 13)
        return [rng.uniform(-1, 1) for _ in range(8)]

    def pts(ids, salt=0):
        return spark.createDataFrame(
            [(i, vec(i, salt), {"i": str(i)}) for i in ids],
            "id long, embedding array<float>, payload map<string,string>",
        )

    col.upsert(pts(range(100)))
    col.build_ivf_index(n_centroids=4)
    col.build_lsh_index(bits=6, tables=2)
    col.build_ivfpq_index(n_centroids=4, m=4, ksub=8)

    # two same-vector rewrite waves of 60 ids: per family the mask holds
    # 120 rows against a 220-row layout (0.55 >= the 0.5 trigger) while
    # drift stays ~1 (identical vectors) — so optimize() must pick the
    # no-retrain consolidation, not a drift rebuild
    for _ in range(2):
        col.upsert(pts(range(60)))
        assert col.refresh_ivf_index() == 60
        assert col.refresh_lsh_index() == 120  # tables=2: one copy each
        assert col.refresh_ivfpq_index() == 60

    drift_before = {
        k: col.index_status()[k].get("drift_ratio") for k in ("ivf", "ivfpq")
    }
    rep = col.optimize()
    for kind in ("ivf", "lsh", "ivfpq"):
        assert rep[kind] == "consolidated", rep
        assert not os.path.exists(col._mask_path(kind))
        with open(
            os.path.join(
                col._index_path(kind), "_index_meta.json"
            )
        ) as fh:
            meta = json.load(fh)
        assert len(meta.get("consolidations", [])) == 1
        # drift evidence survives the compaction (it wasn't paid down)
        if kind in ("ivf", "ivfpq"):
            assert len(meta.get("refresh_stats", [])) == 2
    after = {
        k: col.index_status()[k].get("drift_ratio") for k in ("ivf", "ivfpq")
    }
    assert after == drift_before
    # layouts hold exactly the live rows, searches stay correct
    assert col._read_masked_layout("ivf").count() == 100
    assert col._read_masked_layout("ivfpq").count() == 100
    assert col._read_masked_layout("lsh").count() == 200  # 2 tables x 100 live
    for search in (
        lambda q: col.search_ivf(q, limit=1, nprobe=4),
        lambda q: col.search_lsh(q, limit=1),
        lambda q: col.search_ivfpq(q, limit=1, nprobe=4),
    ):
        assert [r["id"] for r in search(vec(7)).collect()] == [7]
        assert [r["id"] for r in search(vec(80)).collect()] == [80]
    # a later write still refreshes into fresh segment ids, and each
    # family's public consolidation folds that segment in again
    col.upsert(pts([500]))
    assert col.refresh_ivf_index() == 1
    assert col.refresh_lsh_index() == 2
    assert col.refresh_ivfpq_index() == 1
    for kind, consolidate, search, rows in (
        ("ivf", col.consolidate_ivf_index,
         lambda q: col.search_ivf(q, limit=1, nprobe=4), 101),
        ("lsh", col.consolidate_lsh_index,
         lambda q: col.search_lsh(q, limit=1), 202),
        ("ivfpq", col.consolidate_ivfpq_index,
         lambda q: col.search_ivfpq(q, limit=1, nprobe=4), 101),
    ):
        assert consolidate() == rows, kind
        assert not os.path.exists(col._mask_path(kind))
        assert [r["id"] for r in search(vec(500)).collect()] == [500], kind


def test_nsw_refresh_respects_pinned_wide_bucket_layout(spark, tmp_path):
    """r10 review: a base build PINNED past the default segment stride
    (n_buckets >= 10,000) widens the stride, so delta-segment buckets
    stay disjoint from base buckets — a collision would merge two
    disconnected graphs into one beam group and silently lose the
    delta rows. (12,000 buckets over 150 rows = almost all empty; the
    layout only materializes non-empty ones.)"""
    from pyspark.sql import functions as F

    from vector_database_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat_nswwide"))
    col = cat.create_collection("nsww", dim=8, auto_compact=False)

    def vec(i, bump=0.0):
        return [((i * 977 + j * 131) % 1009) / 504.0 - 1.0 + bump for j in range(8)]

    col.upsert(
        spark.createDataFrame(
            [(i, vec(i), {"i": str(i)}) for i in range(150)],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    col.build_nsw_index(n_buckets=12_000)
    col.upsert(
        spark.createDataFrame(
            [(500, vec(500, bump=0.25), {"i": "500"})],
            "id long, embedding array<float>, payload map<string,string>",
        )
    )
    assert col.refresh_nsw_index() == 1
    # the delta bucket sits at seg * max(stride, pinned) >= 12,000 —
    # beyond every possible base bucket id
    seg_buckets = {
        r["_b"]
        for r in col._read_masked_layout("nsw")
        .filter(F.col("__seg") == 1)
        .select("_b")
        .distinct()
        .collect()
    }
    assert seg_buckets and min(seg_buckets) >= 12_000
    # and the delta row is actually served
    got = [r["id"] for r in col.search_nsw(vec(500, bump=0.25), limit=1).collect()]
    assert got == [500]


def test_index_refresh_cycle_canary(spark):
    """The registry's maintenance-matrix canary (q_index_refresh_cycle):
    all four families refresh incrementally, end fresh, serve the
    updated vector and drop the deleted id — the driver-visible proof
    of the r10 refresh matrix."""
    from tests.conftest import SF_SMALL
    from vector_database_spark.queries import q_index_refresh_cycle

    rows = {
        r["kind"]: (
            r["refreshed_rows"],
            r["fresh"],
            r["updated_served"],
            r["deleted_absent"],
        )
        for r in q_index_refresh_cycle(spark, SF_SMALL).collect()
    }
    assert rows == {
        "ivf": (15, True, True, True),
        "ivfpq": (15, True, True, True),
        "lsh": (30, True, True, True),  # one row copy per table (tables=2)
        "nsw": (15, True, True, True),
    }
