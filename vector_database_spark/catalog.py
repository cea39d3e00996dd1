"""Collection catalog — the engine's DDL surface.

Reference semantics being reproduced (SURVEY §2.A):
  - create_collection(name, VectorParams(size, distance=COSINE)), no-op when
    it already exists — vector_db.py:20-24, text_img.py:18-22
  - collection_exists(name) existence predicate — vector_db.py:20
  - upsert(points): insert-or-replace by id, latest wins — vector_db.py:94-106
  - search(query_vector, limit=k) — vector_db_query.py:78-82

A *collection* is one home directory ``<root>/<name>/`` holding a Parquet
directory ``points`` with schema ``id BIGINT, embedding ARRAY<FLOAT>,
payload <struct/map>`` and everything derived from it (tombstone log, ANN
indexes, their masks and staging dirs), plus an entry in a JSON catalog
file ``<root>/_catalog.json`` of the form ``{name: {dim, metric, version}}``.
Keys starting with ``_`` in that file are the catalog's own, never
collections. At 100 TB the same
layout holds: the Parquet dir becomes a partitioned/bucketed table (bucket
by ``pmod(id, N)`` so upsert-merge and point lookups co-locate), and the
JSON catalog becomes the metastore entry. Writes here go through an atomic
rename-free protocol (overwrite per id-bucket) that Delta's MERGE would
replace on a real deployment; the logic is isolated in :meth:`upsert`.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import tempfile
import uuid
import warnings
from dataclasses import dataclass

# module-level on purpose: pandas_udf type hints resolve against the
# DEFINING module's globals (postponed annotations) — a function-local
# import breaks hint resolution in the worker (round-4 gotcha; see
# operators/ann.py::with_lsh_signature)
import pandas as pd  # noqa: E402

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from vector_database_spark.functions.vector import (
    cosine,
    dot,
    l1_dist,
    l2_dist,
    l2_norm,
    round6,
)

VALID_METRICS = ("cosine", "dot", "euclid", "manhattan")

# Broadcast the tombstone map in the latest-wins view only while its
# on-disk log is below this (compressed parquet; in-memory expansion of an
# (id, version) table is a small multiple). See _resolved_df.
TOMBSTONE_BROADCAST_MAX_BYTES = 64 * 1024 * 1024

# reserved keys in the catalog JSON; collection names cannot start with
# "_" (Catalog._check_name), so no collection collides with them.
# ALIASES_KEY holds {alias: collection}. LAYOUT_KEY records the on-disk
# layout the root was written with: LAYOUT nests each collection's
# directories in <root>/<name>/. Roots written before the key existed
# spread a collection over sibling directories at the root, which this
# code neither reads nor deletes (Catalog refuses to open them).
ALIASES_KEY = "__aliases__"
LAYOUT_KEY = "_layout"
LAYOUT = "home-dir"

# Auto-compaction policy (r8 directive 6): the log-structured layout's
# read cost grows with the RAW log (latest-wins windows every version
# batch; tombstones anti-join on top) until compact() folds it — before
# r8 that was a manual call, so an update/delete-heavy collection degraded
# without bound. After every versioned write, once at least MIN_BATCHES
# versions accumulated since the last fold, the collection pays ONE live
# count() (amortized 1/MIN_BATCHES per write) and folds when the log
# holds >= MIN_AMPLIFICATION x the live rows — i.e. when at least half of
# what every read scans and shuffles is dead weight. Append-only
# workloads (raw == live) never trigger it: rewriting data that is all
# live buys nothing at any scale. Compaction forfeits time travel and
# snapshots older than the fold, so collections with snapshots pinning
# versions past the last fold are SKIPPED (drop the snapshot to re-enable)
# and create_collection(auto_compact=False) opts out entirely.
AUTO_COMPACT_MIN_BATCHES = 32
AUTO_COMPACT_MIN_AMPLIFICATION = 2.0

# IVF centroid-drift escalation (r9): refresh_ivf_index assigns delta rows
# to the PINNED centroids — correct for results (masking handles
# supersedes) but recall degrades when the write distribution drifts away
# from what KMeans saw at build time (points land in cells whose centroid
# is far from them, so query-time probe ranking stops finding them within
# nprobe). The drift statistic is the rows-weighted mean distance of all
# refreshed rows to their assigned centroid, over the SAME statistic
# measured on the build-time assignment (a pure ratio — dimension- and
# scale-free). optimize() escalates refresh -> full rebuild once the ratio
# crosses this threshold; 1.5 = refreshed rows sit half again as far from
# their cells as the build distribution did, the point where the
# recall-vs-rebuild-cost trade flips (measured on the planted-shift
# fixture in tests/test_catalog.py and STRESS.md).
IVF_DRIFT_REBUILD_RATIO = 1.5

# Volume floor under the escalation (r9 review): the drift ratio weights
# refresh segments only against EACH OTHER, so one anomalous upserted row
# (a junk embedding far from every centroid) yields ratio >> threshold at
# rows=1 — and since a rebuild resets the stat series, every subsequent
# outlier would re-trigger another full KMeans retrain of an arbitrarily
# large collection. Escalation therefore also requires the refreshed
# volume to be non-trivial: at least IVF_DRIFT_MIN_ROWS rows AND at least
# IVF_DRIFT_MIN_FRACTION of the build-time row count. Below the floor the
# ratio still shows in index_status (monitoring is unconditional); only
# the rebuild trigger waits for evidence at scale.
IVF_DRIFT_MIN_ROWS = 64
IVF_DRIFT_MIN_FRACTION = 0.01

# NSW refresh escalation (r10): past this fraction of the base build's
# rows living in delta segments (or masked out from under it), optimize()
# consolidates into one full graph rebuild. 0.5 keeps refresh O(batch)
# for the common write ratios while bounding the recall decay the
# multi-segment beam pays (small delta graphs have short beams; masked
# base nodes leave routing holes) — measured within 2 recall points of a
# full rebuild at a 10% delta (tests/test_catalog.py, STRESS.md).
NSW_DELTA_REBUILD_FRACTION = 0.5
# Layout-compaction trigger for the NON-graph index families (r11): a
# long-lived collection refreshing on a cadence accumulates mask rows
# and delta segments without bound — every search pays the mask join
# (and loses its broadcast once the mask dir outgrows the byte gate),
# every layout read lists more segment files. IVF/LSH/IVFPQ quality
# does NOT decay with segments (pinned centroids/hyperplanes/codebooks
# route identically), so unlike NSW nothing needs re-training or
# re-linking: optimize() folds the masked layout back to a mask-free
# one (one read+write pass, no KMeans/PQ/graph work) once the mask's
# footer row count reaches this fraction of the layout's. Footer counts
# only — the check never scans data.
LAYOUT_MASK_CONSOLIDATE_FRACTION = 0.5


def _ivf_drift_ratio(meta: dict) -> float | None:
    """Centroid-drift ratio from a persisted IVF index meta: the
    rows-weighted mean assignment distance across every refresh segment
    since the last full build, over the build-time mean. None when
    unmeasurable (no refreshes yet, or a degenerate zero-distance
    build)."""
    base = meta["build_mean_assign_dist"]
    # entries without the mean (empty-delta refreshes record rows only)
    # carry no signal — skip them rather than KeyError (r10: the
    # protocol now records {seg, rows} for every family/refresh)
    stats = [
        s
        for s in (meta.get("refresh_stats") or [])
        if s.get("mean_assign_dist") is not None
    ]
    if base <= 0 or not stats:
        return None
    rows = sum(s["rows"] for s in stats)
    if rows <= 0:
        return None
    wmean = sum(s["rows"] * s["mean_assign_dist"] for s in stats) / rows
    return wmean / base


def _ivf_drift_volume_ok(meta: dict) -> bool:
    """True iff enough rows have been refreshed since the last build for
    the drift ratio to be trustworthy evidence of a SHIFTED DISTRIBUTION
    rather than a few outliers (see IVF_DRIFT_MIN_ROWS/_FRACTION)."""
    rows = sum(s["rows"] for s in (meta.get("refresh_stats") or []))
    floor = max(
        IVF_DRIFT_MIN_ROWS, int(IVF_DRIFT_MIN_FRACTION * meta["build_rows"])
    )
    return rows >= floor


def _nsw_churn(meta: dict) -> int:
    """Nodes an NSW index's refreshes changed since its base build, the
    delta-fraction escalation's numerator: per segment max(rows,
    superseded), so delete-only churn (mask holes with no delta rows)
    counts too (r10 review)."""
    return sum(
        max(s["rows"], s["superseded"]) for s in meta.get("refresh_stats", [])
    )


def _dist_to_assigned_centroid(centroids):
    """Arrow-batched ||e − c_assigned||₂ for rows already carrying a
    centroid_id — the per-row term of the drift statistic. One gather +
    one subtract per batch; numerically the plain form (not the expansion
    trick) because each row touches exactly ONE centroid, so there is no
    O(batch·k·dim) tensor to avoid."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("double")
    def _dist(embs: pd.Series, cids: pd.Series) -> pd.Series:
        import numpy as _np

        if not len(embs):
            return pd.Series([], dtype="float64")
        E = _np.stack([_np.asarray(v, dtype=_np.float64) for v in embs])
        Cc = C[cids.to_numpy(dtype="int64")]
        return pd.Series(_np.sqrt(((E - Cc) ** 2).sum(axis=1)))

    return _dist


def _assign_pinned_centroids(live, centroids) -> "DataFrame":
    """Assign rows to PINNED centroids — the shared refresh kernel of
    refresh_ivf_index and refresh_ivfpq_index: euclidean argmin (the
    KMeans.transform rule) via the squared-distance expansion
    ||e||² − 2·E@Cᵀ + ||c||² — O(batch·k) memory in one BLAS matmul, the
    same kernel shape as the PQ/ADC scorers in operators/ann.py. The
    naive broadcast difference tensor ((E[:,None,:] − C[None,:,:])²) is
    O(batch·k·dim): with auto centroids (√N capped 4096) and a ~10k-row
    Arrow batch that is ~21 GB per batch — executor OOM on exactly the
    large collections refresh targets (r8 ADVICE). argmin is unchanged
    up to fp rounding of the identical quantity, which only moves a
    point between near-equidistant cells — search probes cells by
    query-time ranking, so placement ties don't affect correctness.

    Returns the input columns + ``centroid_id`` INT +
    ``__assign_dist`` DOUBLE (the winning distance — IVF's drift term;
    the IVFPQ refresh recomputes its own recon-err statistic and drops
    this one)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)  # (k,)

    @pandas_udf("struct<cid:int,dist:double>")
    def _assign(embs: pd.Series) -> pd.DataFrame:
        import numpy as _np
        import pandas as _pd

        if not len(embs):
            return _pd.DataFrame(
                {"cid": _pd.Series([], dtype="int32"),
                 "dist": _pd.Series([], dtype="float64")}
            )
        E = _np.stack([_np.asarray(v, dtype=_np.float64) for v in embs])
        d = (E * E).sum(axis=1)[:, None] - 2.0 * (E @ C.T) + c_sq[None, :]
        cid = d.argmin(axis=1).astype("int32")
        # max-with-0 before sqrt: the expansion can go epsilon-negative
        # in fp for points sitting exactly at a centroid
        best = _np.sqrt(_np.maximum(d[_np.arange(len(cid)), cid], 0.0))
        return _pd.DataFrame({"cid": cid, "dist": best})

    out = live.withColumn(
        "__a", _assign(F.col("embedding").cast("array<double>"))
    )
    return out.select(
        *live.columns,
        F.col("__a.cid").alias("centroid_id"),
        F.col("__a.dist").alias("__assign_dist"),
    )


def _release_local_checkpoints(*dfs: "DataFrame | None") -> None:
    """Release the executor storage behind ``localCheckpoint``ed
    DataFrames (ADVICE r10: refresh_nsw_index's per-refresh delta graphs
    accumulated blocks for the life of the session — so did the shared
    protocol's written/superseded/live pins). ``df.unpersist()`` is a
    no-op for checkpoints (the blocks belong to the internal RDD the
    LogicalRDD leaf wraps, not to the Dataset), so this walks each
    analyzed plan's leaves and unpersists every LogicalRDD it finds —
    which also covers derived frames (a ``.drop()`` over a checkpoint)
    and deltas built ON a checkpointed input. Only ever called on frames
    the refresh protocol itself pinned, after their last reader."""
    for df in dfs:
        if df is None:
            continue
        try:
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if leaf.getClass().getSimpleName() == "LogicalRDD":
                    leaf.rdd().unpersist(False)
        except Exception:  # best-effort: a release must never fail a refresh
            pass


def collection_schema(payload_type: T.DataType | None = None) -> T.StructType:
    """Point schema: PointStruct(id, vector, payload) — vector_db.py:85-91."""
    payload_type = payload_type or T.MapType(T.StringType(), T.StringType())
    return T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
            T.StructField("payload", payload_type, True),
            T.StructField("version", T.LongType(), False),
        ]
    )


@dataclass
class CollectionInfo:
    name: str
    dim: int
    metric: str
    version: int = 0
    tenant_key: str | None = None  # multitenancy: payload key partitioning the layout


class Catalog:
    """JSON-file catalog of collections rooted at ``root`` (a directory)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._catalog_path = os.path.join(root, "_catalog.json")
        self._lock_path = os.path.join(root, "_catalog.lock")
        cat = self._load()
        if cat.get(LAYOUT_KEY) != LAYOUT and self._collections(cat):
            raise ValueError(
                f"catalog root {root!r} holds collections in an on-disk "
                f"layout this version does not read (its _catalog.json has "
                f"no {LAYOUT_KEY!r}: {LAYOUT!r}); export them with the "
                f"previous version's export_points and import_points them "
                f"into a new root"
            )
        # resolved ANN layout relations, at most one per index path:
        # {index_path: (generation, DataFrame, raw row count or None)}.
        # Reusing the relation reuses its file listing, so a search skips
        # re-listing every cell directory; see
        # VectorCollection._masked_layout_df. The raw count is filled in
        # by the first search that needs it (_ivfpq_auto_shortlist)
        self._layouts: dict[str, tuple[str, DataFrame, int | None]] = {}
        # salts the tokens this handle derives for segment commits, so
        # two handles committing the same segment never share one
        self._handle_id = uuid.uuid4().hex

    @contextlib.contextmanager
    def _lock(self):
        """Exclusive advisory lock serializing catalog read-modify-write.

        Every mutation (create/drop/upsert version mint) is a load→save on
        the JSON file; without this, two handles/processes could both read
        version N and mint N+1, making latest-wins nondeterministic. flock
        is inter-process on one host — the single-writer-per-host model this
        file-backed catalog supports; a real deployment swaps the JSON file
        for a metastore/Delta log with its own transaction protocol.
        """
        import fcntl

        fd = os.open(self._lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    # -- catalog file ------------------------------------------------------
    def _load(self) -> dict:
        if not os.path.exists(self._catalog_path):
            return {}
        with open(self._catalog_path) as f:
            return json.load(f)

    def _save(self, cat: dict) -> None:
        cat[LAYOUT_KEY] = LAYOUT
        tmp = self._catalog_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cat, f, indent=2, sort_keys=True)
        os.replace(tmp, self._catalog_path)

    # -- ANN index metas and their cached layouts -------------------------
    def _write_index_meta(
        self, index_path: str, meta: dict, retry_key: str | None = None
    ) -> None:
        """Atomically (temp file + os.replace) write an index's
        ``_index_meta.json``, stamping a fresh ``generation`` token — the
        only place a token is minted. The token keys the cached layout
        relation (:meth:`VectorCollection._masked_layout_df`), so it must
        change whenever the files under ``index_path`` may have changed:
        a rebuild at the same version writes a byte-identical meta over
        new part files, which is why the token is never derived from the
        meta's content.

        ``retry_key`` names a commit that a crash-retry repeats (a
        refresh passes the parent token and its segment): a retry from
        the same parent meta re-mints the token of the attempt it
        replaces, whose meta never became visible. The handle id salts
        it, so a commit through another handle still reads as new. Any
        write drops this handle's cached layout of the index."""
        if retry_key is None:
            token = uuid.uuid4().hex
        else:
            token = hashlib.sha256(
                f"{self._handle_id}/{retry_key}".encode()
            ).hexdigest()[:32]
        meta["generation"] = token
        self._layouts.pop(index_path, None)
        # "_"-prefixed: Spark's file listing skips it, like the meta
        fd, tmp = tempfile.mkstemp(
            dir=index_path, prefix="_index_meta.", suffix=".tmp"
        )
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(meta, fh)
            os.replace(tmp, os.path.join(index_path, "_index_meta.json"))
        except BaseException:
            with contextlib.suppress(OSError):
                os.remove(tmp)
            raise

    def _evict_layouts(self, name: str) -> None:
        """Release the cached layouts of every index of a collection."""
        home = self._home(name) + os.sep
        for path in [p for p in self._layouts if p.startswith(home)]:
            del self._layouts[path]

    # -- on-disk layout ----------------------------------------------------
    def _home(self, name: str) -> str:
        """The one directory holding everything collection ``name``
        stores (VectorCollection.path and every directory derived from
        it)."""
        return os.path.join(self.root, name)

    @staticmethod
    def _check_name(name: str) -> None:
        """A collection's name is one entry of the catalog root that is
        not the catalog's own. An empty name, one holding a path
        separator or one starting with ``.`` (``.``, ``..``) would put
        its home at the root itself, its parent or elsewhere, where a
        drop would delete it; one starting with ``_`` would collide with
        the catalog's files and JSON keys."""
        if not name or name[0] in "._" or any(
            sep and sep in name for sep in (os.sep, os.altsep)
        ):
            raise ValueError(f"invalid collection name {name!r}")

    def _remove_home(self, name: str) -> None:
        """Delete what ``name`` left on disk, so a collection created
        under the name later starts empty. Called under the catalog lock
        with a catalog that has no entry for ``name``."""
        import shutil

        shutil.rmtree(self._home(name), ignore_errors=True)
        self._evict_layouts(name)

    # -- DDL (SURVEY A1/A2) ------------------------------------------------
    def collection_exists(self, name: str) -> bool:
        """A2: existence predicate guarding create (vector_db.py:20).
        Aliases are not collections: exists(alias) is False, like Qdrant."""
        return name in self._collections(self._load())

    def create_collection(
        self,
        name: str,
        dim: int,
        metric: str = "cosine",
        tenant_key: str | None = None,
        auto_compact: bool = True,
    ) -> "VectorCollection":
        """A1: named table with fixed vector dim + metric; no-op if exists
        (vector_db.py:20-24).

        ``tenant_key`` makes the collection MULTITENANT (Qdrant
        multitenancy: one collection, payload-partitioned tenants): every
        point must carry ``payload[tenant_key]``, the physical layout gains
        a leading ``tenant=...`` partition directory, and a tenant-scoped
        search prunes to that tenant's files only — at 100 TB a tenant
        query reads the tenant, not the collection.
        """
        if metric not in VALID_METRICS:
            raise ValueError(f"metric must be one of {VALID_METRICS}, got {metric!r}")
        self._check_name(name)
        with self._lock():
            cat = self._load()
            if name in cat.get(ALIASES_KEY, {}):
                raise ValueError(f"{name!r} is an alias; pick another name")
            if name not in cat:
                # a drop that crashed between its catalog commit and its
                # delete leaves data a new collection must not read
                self._remove_home(name)
                cat[name] = {"dim": dim, "metric": metric, "version": 0}
                if tenant_key is not None:
                    cat[name]["tenant_key"] = tenant_key
                if not auto_compact:
                    # stored only when opted OUT — absent means the default
                    # policy, so pre-r8 catalogs pick it up unchanged
                    cat[name]["auto_compact"] = False
                self._save(cat)
            info = cat[name]
        if (
            info["dim"] != dim
            or info["metric"] != metric
            or info.get("tenant_key") != tenant_key
        ):
            raise ValueError(
                f"collection {name!r} exists with dim={info['dim']} "
                f"metric={info['metric']} tenant_key={info.get('tenant_key')}; "
                f"cannot recreate with dim={dim} metric={metric} tenant_key={tenant_key}"
            )
        return self.collection(name)

    def collection(self, name: str) -> "VectorCollection":
        """Open a collection by name OR alias (aliases resolve at open time,
        so repointing an alias atomically redirects new readers)."""
        cat = self._load()
        name = cat.get(ALIASES_KEY, {}).get(name, name)
        if name not in self._collections(cat):
            raise KeyError(f"no such collection: {name}")
        info = cat[name]
        return VectorCollection(
            self,
            CollectionInfo(
                name,
                info["dim"],
                info["metric"],
                info["version"],
                info.get("tenant_key"),
            ),
        )

    def drop_collection(self, name: str) -> None:
        """Remove a collection, its aliases and everything it stored:
        points, tombstones and every index, all under its one home
        directory (Qdrant's delete_collection deletes the points too). The
        catalog commit comes first, so a crash before the delete leaves an
        orphaned home, which create_collection clears. Dropping an unknown
        name deletes nothing."""
        self._check_name(name)
        with self._lock():
            cat = self._load()
            dropped = cat.pop(name, None)
            aliases = cat.get(ALIASES_KEY, {})
            for a in [a for a, tgt in aliases.items() if tgt == name]:
                del aliases[a]  # no dangling aliases (Qdrant drops them too)
            self._save(cat)
            if dropped is not None:
                self._remove_home(name)

    def list_collections(self) -> list[str]:
        return sorted(self._collections(self._load()))

    @staticmethod
    def _collections(cat: dict) -> dict:
        return {k: v for k, v in cat.items() if not k.startswith("_")}

    # -- aliases (Qdrant update_collection_aliases / get_aliases) ----------
    def update_aliases(
        self, create: dict[str, str] | None = None, delete: list[str] | None = None
    ) -> None:
        """Atomically apply alias changes (Qdrant update_collection_aliases:
        one request carrying create/delete ops, applied as a unit). The
        canonical zero-downtime reindex: build `docs_v2`, then
        ``update_aliases(create={'docs': 'docs_v2'})`` repoints readers in
        one catalog commit. Creating an alias that exists repoints it.
        """
        with self._lock():
            cat = self._load()
            aliases = cat.setdefault(ALIASES_KEY, {})
            for a in delete or []:
                if a not in aliases:
                    raise KeyError(f"no such alias: {a}")
                del aliases[a]
            for alias, target in (create or {}).items():
                if alias in self._collections(cat):
                    raise ValueError(f"{alias!r} is a collection name; cannot alias")
                if target not in self._collections(cat):
                    raise KeyError(f"alias target does not exist: {target}")
                aliases[alias] = target
            self._save(cat)

    def list_aliases(self) -> dict[str, str]:
        """All aliases as {alias: collection} (Qdrant get_aliases)."""
        return dict(self._load().get(ALIASES_KEY, {}))

    def collection_aliases(self, name: str) -> list[str]:
        """Aliases pointing at one collection (Qdrant get_collection_aliases)."""
        return sorted(
            a for a, tgt in self._load().get(ALIASES_KEY, {}).items() if tgt == name
        )

    def _set_version(self, name: str, version: int) -> None:
        cat = self._load()
        cat[name]["version"] = version
        self._save(cat)


class VectorCollection:
    """One collection: Parquet-backed DataFrame of points + search surface.

    On disk everything lives in the collection's home ``<root>/<name>/``
    (Qdrant keeps a collection's points, payloads and HNSW index under
    its own storage directory the same way): ``path`` is the points
    directory ``<home>/points``, and every other directory is ``path``
    plus a suffix — ``__tombstones``, the fold and shrink asides, and
    per index kind ``__<kind>``, ``__<kind>_mask``,
    ``__<kind>__consolidate_stage`` and the refresh's ``__stage_seg<n>``
    dirs. A drop is one ``rmtree`` of the home.

    Physical layout (SURVEY §4.3 scale items):
      * ``bucket = pmod(id, N_BUCKETS)`` partition column — point lookups
        (``get``) and id-equijoins prune to one directory. The latest-wins
        window does not use it: its executed plan hash-partitions whole
        rows by ``id`` (one ``Exchange``).
      * ``norm`` (L2) materialized at ingest — cosine at query time is one
        dot product + one divide; the per-row self-dot+sqrt is paid once,
        not per query (Qdrant normalizes internally the same way).
    """

    N_BUCKETS = 16

    def __init__(self, catalog: Catalog, info: CollectionInfo):
        self.catalog = catalog
        self.info = info
        self.path = os.path.join(catalog._home(info.name), "points")

    # -- scan ---------------------------------------------------------------
    @property
    def _partition_cols(self) -> tuple[str, ...]:
        # tenant first: a tenant-scoped query prunes at the top directory
        # level before bucket pruning even enters the picture
        if self.info.tenant_key is not None:
            return ("tenant", "bucket")
        return ("bucket",)

    def _raw_df(self) -> DataFrame:
        spark = self.catalog.spark
        if not os.path.exists(self.path):
            # a fold that crashed between its swap renames leaves the
            # complete layout in __compact — finish it instead of reading
            # the collection as empty (r8 review 2)
            self._recover_interrupted_fold()
        if not os.path.exists(self.path):
            empty = spark.createDataFrame([], collection_schema())
            empty = empty.withColumn("norm", F.lit(0.0)).withColumn("bucket", F.lit(0))
            if self.info.tenant_key is not None:
                empty = empty.withColumn("tenant", F.lit("").cast("string"))
            return empty
        return spark.read.parquet(self.path)

    # -- on-disk names: every directory besides ``path`` is ``path`` plus
    # a suffix spelled here (the index ones in _index_dirs), so all of
    # them sit inside the collection's home
    @staticmethod
    def _tombstones_of(path: str) -> str:
        return path + "__tombstones"

    @staticmethod
    def _fold_asides(path: str) -> tuple[str, str]:
        """(new, old): a fold's folded layout and the old one its swap parks."""
        return path + "__compact", path + "__prefold"

    @staticmethod
    def _shrink_asides(tombstone_path: str) -> tuple[str, str]:
        """(new, old), the same pair for a tombstone-log shrink."""
        return tombstone_path + "__shrink", tombstone_path + "__preshrink"

    @property
    def _tombstone_path(self) -> str:
        return self._tombstones_of(self.path)

    def _resolved_df(
        self, as_of_version: int | None = None, tenant: str | None = None
    ) -> DataFrame:
        """Latest-wins rows minus deleted points, with norm/bucket intact.

        Deletes are log-structured tombstones (id, version) in a side
        Parquet — the same append-only strategy as upsert, so a delete is
        one small write, never a rewrite of the collection. Resolution: a
        point is live iff its latest write version is greater than its
        latest tombstone version (a later upsert resurrects the id). The
        tombstone side broadcasts only while its on-disk log is small
        (TOMBSTONE_BROADCAST_MAX_BYTES; delete-heavy collections grow it
        without bound until compact() folds it — the hint is withheld past
        the gate and AQE decides at runtime).

        ``as_of_version`` gives time travel for free from the same log
        (Delta-style VERSION AS OF): resolve considering only operations
        with version <= as_of_version. Note ``compact()`` folds history and
        forfeits older versions — the usual retention trade-off.
        """
        raw = self._raw_df()
        if tenant is not None:
            # BEFORE latest-wins: the predicate sits directly on the scan's
            # partition column, pruning to one tenant directory — a filter
            # above the window could not be pushed below it (the window
            # partitions by id, not tenant). Sound because tenant values
            # are immutable routing keys (like Qdrant shard keys): a
            # set_payload that moved a point across tenants is unsupported.
            raw = raw.filter(F.col("tenant") == tenant)
        if as_of_version is not None:
            raw = raw.filter(F.col("version") <= as_of_version)
        rows = latest_wins(raw, id_col="id", version_col="version")
        if not os.path.exists(self._tombstone_path):
            # a partial fold's tombstone shrink that crashed mid-swap
            # leaves the log renamed aside — recover instead of silently
            # resurrecting deleted ids (r9)
            self._recover_interrupted_tombstone_shrink()
        if not os.path.exists(self._tombstone_path):
            return rows
        spark = self.catalog.spark
        tombs = spark.read.parquet(self._tombstone_path)
        if as_of_version is not None:
            tombs = tombs.filter(F.col("version") <= as_of_version)
        tombs = tombs.groupBy("id").agg(F.max("version").alias("__del_v"))
        # broadcast only while the tombstone LOG is small: a delete-heavy
        # collection grows this side without bound (compact() folds it),
        # and a forced broadcast of a giant id set is the same failure the
        # dedup verify stage hit at 2M docs (r7). The gate reads on-disk
        # parquet bytes — a driver-side os.walk, no Spark job on the df()
        # hot path; past it the hint is withheld and AQE still converts at
        # runtime if the aggregated map turns out small.
        if self._tombstone_log_bytes() <= TOMBSTONE_BROADCAST_MAX_BYTES:
            tombs = F.broadcast(tombs)
        return (
            rows.join(tombs, "id", "left")
            .filter(F.col("__del_v").isNull() | (F.col("version") > F.col("__del_v")))
            .drop("__del_v")
        )

    def _tombstone_log_bytes(self) -> int:
        return self._dir_parquet_bytes(self._tombstone_path)

    @staticmethod
    def _dir_parquet_bytes(path: str) -> int:
        """On-disk parquet bytes under ``path`` (driver-side os.walk — no
        Spark job): the cheap size signal gating broadcast hints for the
        tombstone log and the index refresh masks."""
        total = 0
        for dp, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    try:
                        total += os.path.getsize(os.path.join(dp, f))
                    except OSError:
                        pass
        return total

    def df(self, as_of_version: int | None = None) -> DataFrame:
        """State of the collection: latest version of each live id, or the
        state as of an earlier version (time travel over the write log)."""
        return self._resolved_df(as_of_version).drop("norm", "bucket", "tenant")

    def export_points(self, path: str) -> None:
        """Export the live collection as Qdrant-style point JSONL shards
        through the custom ``points_jsonl`` DataSource — the snapshot
        interchange format (scroll/snapshot export twin): each task writes
        one shard under the atomic-rename commit protocol (overwrite mode:
        a re-export replaces the previous generation's shards, so deleted
        points cannot resurface from stale files), and any engine
        (or a Qdrant client script) can replay the records. Requires the
        default MAP<STRING,STRING> payload type (the interchange schema)."""
        from pyspark.sql import types as _T

        from vector_database_spark.sources import points_jsonl

        spark = self.catalog.spark
        points_jsonl.register(spark)
        df = self.df()
        if not isinstance(df.schema["payload"].dataType, _T.MapType):
            raise ValueError(
                f"export_points requires the MAP<STRING,STRING> payload "
                f"(the interchange schema); collection {self.info.name!r} "
                f"has {df.schema['payload'].dataType.simpleString()}"
            )
        (
            df
            .select(
                "id",
                F.col("embedding").alias("vector"),
                F.col("payload"),
            )
            .write.format("points_jsonl")
            .mode("overwrite")
            .save(path)
        )

    def import_points(self, path: str) -> int:
        """Upsert a points_jsonl export into this collection (the restore
        half of export_points): per-file read parallelism, id-filter
        pushdown available to callers that pre-filter. Returns the new
        collection version (upsert's contract)."""
        from vector_database_spark.sources import points_jsonl

        spark = self.catalog.spark
        points_jsonl.register(spark)
        pts = spark.read.format("points_jsonl").load(path)
        return self.upsert(
            pts.select(
                "id", F.col("vector").alias("embedding"), F.col("payload")
            )
        )

    def get(self, point_id: int):
        """Point lookup by id. The bucket predicate prunes the scan to one
        partition directory (verify with .explain: PartitionFilters)."""
        row = latest_wins(
            self._raw_df().filter(
                (F.col("bucket") == point_id % self.N_BUCKETS)
                & (F.col("id") == point_id)
            ),
            id_col="id",
            version_col="version",
        ).drop("norm", "bucket").collect()
        if not row:
            return None
        if os.path.exists(self._tombstone_path):
            del_v = (
                self.catalog.spark.read.parquet(self._tombstone_path)
                .filter(F.col("id") == point_id)
                .agg(F.max("version"))
                .collect()[0][0]
            )
            if del_v is not None and row[0]["version"] <= del_v:
                return None
        return row[0]

    def count(self, payload_filter=None) -> int:
        """A4 collection stats scan (vector_db.py:108), generalized to the
        Qdrant count API: count of live points matching an optional payload
        predicate (client.count(collection, count_filter=...))."""
        df = self.df()
        if payload_filter is not None:
            df = df.filter(payload_filter)
        return df.count()

    # -- DML (SURVEY A3/A5) --------------------------------------------------
    def upsert(self, points: DataFrame) -> int:
        """A3: insert-or-replace by id, latest wins (vector_db.py:94-106).

        Implementation: append a new versioned Parquet batch; reads resolve
        latest-wins via a window. This is the log-structured strategy that
        scales (append-only writes, compaction deferred); `compact()` folds
        history. On Delta/Iceberg this becomes MERGE INTO — same semantics.

        Validation (dimension + nonzero norm, schema system §1.4) happens
        IN-FLIGHT via raise_error folded into the materialized norm column:
        one pass over the points, no separate count job, and the catalog
        version is persisted only after the write succeeds (a failed upsert
        leaves the catalog untouched).
        """
        dim_msg = (
            f"dimension mismatch: collection {self.info.name!r} expects "
            f"{self.info.dim}-d vectors"
        )
        zero_msg = (
            f"zero-norm vector: collection {self.info.name!r} is cosine-searchable; "
            "the zero vector has no direction"
        )
        raw_norm = l2_norm(F.col("embedding"))
        checked_norm = F.when(
            F.size("embedding") != self.info.dim,
            F.raise_error(F.lit(dim_msg)).cast("double"),
        )
        if self.info.metric == "cosine":
            # the zero vector has no direction — only a cosine problem;
            # euclid/dot collections may legitimately store it
            checked_norm = checked_norm.when(
                raw_norm == 0.0, F.raise_error(F.lit(zero_msg)).cast("double")
            )
        checked_norm = checked_norm.otherwise(raw_norm)
        # version mint → parquet append → catalog bump is ONE critical
        # section under the catalog file lock: without it, two handles
        # (threads or processes) can both read version N and append batches
        # stamped N+1, making latest-wins nondeterministic. flock serializes
        # writers on this host; a metastore/Delta log replaces it at scale.
        with self.catalog._lock():
            # a fold that crashed mid-swap leaves self.path missing with
            # the complete layout aside in __compact; an append here would
            # RECREATE the path holding only this batch, permanently
            # blocking the read-side recovery and orphaning every
            # pre-crash row until the next fold deletes them (r9 review).
            # Finish the swap first — two existence checks when healthy.
            self._recover_interrupted_fold()
            version = self.catalog._load()[self.info.name]["version"] + 1
            batch = points.select(
                F.col("id").cast("long").alias("id"),
                F.col("embedding").cast("array<float>").alias("embedding"),
                F.col("payload"),
                F.lit(version).cast("long").alias("version"),
            ).withColumns(
                {
                    # materialized at ingest (§4.3): norm for cosine-as-dot,
                    # bucket as the partition column for id locality
                    "norm": checked_norm,
                    "bucket": F.pmod(F.col("id"), F.lit(self.N_BUCKETS)).cast("int"),
                }
            )
            if self.info.tenant_key is not None:
                tenant_msg = (
                    f"missing tenant: collection {self.info.name!r} is multitenant; "
                    f"every point needs payload[{self.info.tenant_key!r}]"
                )
                batch = batch.withColumn(
                    "tenant",
                    F.when(
                        F.col("payload").getItem(self.info.tenant_key).isNull(),
                        F.raise_error(F.lit(tenant_msg)).cast("string"),
                    ).otherwise(F.col("payload").getItem(self.info.tenant_key)),
                )
            try:
                batch.write.mode("append").partitionBy(*self._partition_cols).parquet(
                    self.path
                )
            except Exception as ex:  # surface validation failures as ValueError
                msg = str(ex)
                if "dimension mismatch" in msg:
                    raise ValueError(dim_msg) from ex
                if "zero-norm vector" in msg:
                    raise ValueError(zero_msg) from ex
                if "missing tenant" in msg:
                    raise ValueError(msg[msg.index("missing tenant") :]) from ex
                raise
            self.catalog._set_version(self.info.name, version)
        self.info.version = version
        # outside the lock: compact() re-acquires it, and the policy's
        # occasional live count() must not serialize concurrent writers.
        # Best-effort: the write above is COMMITTED — a failure in the
        # housekeeping policy must not make it look failed (a retry would
        # double-append the batch — r8 ADVICE). compact()/optimize() keep
        # raising for callers who asked for the fold explicitly.
        try:
            self.maybe_auto_compact()
        except Exception as ex:
            warnings.warn(
                f"auto-compaction policy failed after committed write "
                f"v{version} of {self.info.name!r} (write is intact): {ex}",
                RuntimeWarning,
            )
        return version

    def delete(self, point_ids=None, payload_filter=None) -> int:
        """Delete points by explicit ids or by payload predicate (Qdrant
        delete API: client.delete(collection, points_selector=...)).

        Log-structured like upsert: appends (id, version) tombstones — one
        small write, no collection rewrite. A later upsert of the same id
        resurrects it (write version > tombstone version). Returns the
        minted version.

        ``point_ids`` may be an iterable of ids or a single-column
        DataFrame of ids — the DataFrame form writes the tombstones as one
        distributed plan with no driver materialization (restore_snapshot
        feeds its anti-join diff through here unbounded-safe).
        """
        if (point_ids is None) == (payload_filter is None):
            raise ValueError("exactly one of point_ids / payload_filter required")
        spark = self.catalog.spark
        with self.catalog._lock():
            # same hazard as upsert's fold recovery, on the tombstone log:
            # a shrink that crashed mid-swap leaves the log renamed aside;
            # appending here would recreate the dir holding only this
            # delete, blocking the read-side recovery forever — the
            # pre-crash tombstones stop applying (deleted ids resurrect)
            # until a later full fold zombie-recovers the aside (r9
            # review). Finish the swap first.
            self._recover_interrupted_tombstone_shrink()
            version = self.catalog._load()[self.info.name]["version"] + 1
            if isinstance(point_ids, DataFrame):
                doomed = point_ids.select(F.col(point_ids.columns[0]).cast("long").alias("id"))
            elif point_ids is not None:
                doomed = spark.createDataFrame(
                    [(int(i),) for i in point_ids], "id long"
                )
            else:
                doomed = (
                    latest_wins(self._raw_df(), id_col="id", version_col="version")
                    .filter(payload_filter)
                    .select("id")
                )
            doomed.withColumn("version", F.lit(version).cast("long")).write.mode(
                "append"
            ).parquet(self._tombstone_path)
            self.catalog._set_version(self.info.name, version)
        self.info.version = version
        # best-effort, same contract as upsert(): the tombstone append is
        # committed; policy failures must not fail the caller's delete
        try:
            self.maybe_auto_compact()
        except Exception as ex:
            warnings.warn(
                f"auto-compaction policy failed after committed delete "
                f"v{version} of {self.info.name!r} (delete is intact): {ex}",
                RuntimeWarning,
            )
        return version

    def set_payload(self, point_ids, payload: dict) -> int:
        """Merge keys into the payload of the given points (Qdrant
        set_payload API). Implemented as an upsert of the affected rows with
        map_concat-merged payload — the affected set is re-written at a new
        version, everything else untouched (at scale this is exactly a
        MERGE touching only matching id-buckets). Returns the new version.
        """
        ids = [int(i) for i in point_ids]
        new_keys = F.array(*[F.lit(str(k)) for k in payload])
        # drop keys being overwritten before concat — map_concat raises on
        # duplicate keys under the default EXCEPTION dedup policy
        merged = F.map_concat(
            F.map_filter(
                F.coalesce(
                    F.col("payload"), F.create_map().cast("map<string,string>")
                ),
                lambda k, _v: ~F.array_contains(new_keys, k),
            ),
            F.create_map(
                *[F.lit(x) for kv in payload.items() for x in (str(kv[0]), str(kv[1]))]
            ),
        )
        updated = (
            self.df()
            .filter(F.col("id").isin(ids))
            .select("id", "embedding", merged.alias("payload"))
        )
        return self.upsert(updated)

    def delete_payload(self, point_ids, keys) -> int:
        """Remove the given payload keys from the given points (Qdrant
        delete_payload API). Same MERGE shape as set_payload: only the
        affected rows are re-written at a new version."""
        ids = [int(i) for i in point_ids]
        drop = F.array(*[F.lit(str(k)) for k in keys])
        pruned = F.map_filter(
            F.coalesce(F.col("payload"), F.create_map().cast("map<string,string>")),
            lambda k, _v: ~F.array_contains(drop, k),
        )
        updated = (
            self.df()
            .filter(F.col("id").isin(ids))
            .select("id", "embedding", pruned.alias("payload"))
        )
        return self.upsert(updated)

    def clear_payload(self, point_ids) -> int:
        """Reset the payload of the given points to empty (Qdrant
        clear_payload API)."""
        ids = [int(i) for i in point_ids]
        updated = (
            self.df()
            .filter(F.col("id").isin(ids))
            .select(
                "id",
                "embedding",
                F.create_map().cast("map<string,string>").alias("payload"),
            )
        )
        return self.upsert(updated)

    def update_vectors(self, points: DataFrame) -> int:
        """Replace the vectors of existing points, keeping their payload
        (Qdrant update_vectors API). ``points`` carries (id, embedding);
        the current payload is joined on id (broadcast — the update set is
        the small side) and the rows re-upserted at a new version. Unknown
        ids raise, matching Qdrant's point-not-found error."""
        cur = self.df().select("id", F.col("payload").alias("_old_payload"))
        upd = points.select("id", "embedding")
        n_req = upd.count()
        joined = upd.join(cur, "id")
        if joined.count() != n_req:
            missing = [
                r["id"] for r in upd.join(cur, "id", "left_anti").collect()
            ]
            raise KeyError(f"update_vectors: points not found: {sorted(missing)}")
        return self.upsert(
            joined.select("id", "embedding", F.col("_old_payload").alias("payload"))
        )

    # Measured scan-vs-probe crossover for near_duplicates (STRESS.md
    # "at-rest index probe": scan wins 2.0s vs 95.6s at 1M; the scan's
    # map pass grows linearly with the corpus while the probe stays
    # ~flat — crossover ≈ 50-100M rows). Auto-routing flips to the probe
    # at the LOW end of the band: past it the scan only gets worse, and
    # the footer-count hint is an upper bound, so growth errs probe-ward.
    NEARDUP_PROBE_MIN_ROWS = 50_000_000

    def route_for_near_duplicates(self, rows_hint: int | None = None) -> str:
        """Which physical plan ``near_duplicates(use_index=None)`` will
        run RIGHT NOW: ``"probe"`` (persisted LSH layout) iff a FRESH
        LSH index covers the current version AND the corpus footer row
        count is past the measured scan-vs-probe crossover
        (NEARDUP_PROBE_MIN_ROWS); else ``"scan"`` (sign-bucket pass over
        the live view — the deterministic-recall plan, and the faster
        one below the crossover). Same inspectable-dispatch discipline
        as :meth:`route_for_search`.

        Check order matters for the per-micro-batch ingest loop (the
        method's primary documented caller): metric and LSH freshness
        are pure JSON reads, so a collection with NO fresh index — the
        common small-collection state — routes with ZERO Spark jobs;
        only a fresh-index candidate pays the footer count (r10 review:
        the count ran first and taxed every default call). Ingest loops
        that track their own size can pass ``rows_hint`` to skip even
        that."""
        if self.info.metric != "cosine":
            return "scan"
        if not self.index_status()["lsh"]["fresh"]:
            return "scan"
        if rows_hint is None:
            rows_hint = self._approx_live_rows()
        return (
            "probe" if rows_hint >= self.NEARDUP_PROBE_MIN_ROWS else "scan"
        )

    def near_duplicates(
        self,
        points: DataFrame,
        threshold: float | None = None,
        n_bucket_words: int = 1,
        use_index: bool | None = None,
        rows_hint: int | None = None,
    ) -> DataFrame:
        """Ingest-time semantic dedup: which INCOMING points are
        embedding near-duplicates of points already live in the
        collection? Returns (batch_id, corpus_id, cos) via
        dedup.semdedup_incremental over the live view — deterministic
        sign-bucket partitioning, cosine verified on CROSS-side bucket
        pairs only (never batch² or corpus²), so the per-batch cost is
        one bucket pass over the batch plus the bucket join against the
        collection scan. Policy stays with the caller (drop, merge
        payloads, or upsert anyway):

            dups = col.near_duplicates(batch)
            fresh = batch.join(
                dups.select(F.col("batch_id").alias("id")).distinct(),
                "id", "left_anti")
            col.upsert(fresh)

        SELF-PAIRS ARE REPORTED: a batch row whose id is already live
        and whose embedding still matches surfaces as (id, id, cos) —
        exact replays are duplicates too (the streaming replay test
        depends on this). The recipe above therefore ALSO drops
        same-id UPDATES whose new embedding stays near the old one; an
        update-friendly pipeline must exclude them first:
        ``dups.filter(F.col("batch_id") != F.col("corpus_id"))``.

        ``threshold`` defaults to the dedup module's cosine near-dup
        threshold; raise ``n_bucket_words`` for >32-d sign selectivity
        on skewed embedding models (semdedup_pairs docstring).

        ``use_index=None`` (the default) AUTO-ROUTES by corpus size —
        :meth:`route_for_near_duplicates`: the scan below the measured
        crossover (NEARDUP_PROBE_MIN_ROWS, from the STRESS "at-rest
        index probe" series), the indexed probe past it when a fresh
        LSH index covers the current version (falling back to the scan
        when none does, mirroring search_auto's degrade-not-raise).
        A non-default ``n_bucket_words`` is a SCAN-path tuning knob and
        pins the scan. Explicit ``True``/``False`` override the routing
        (True keeps the raise-if-stale contract for deliberate callers);
        ``rows_hint`` lets an ingest loop that tracks its own corpus
        size skip the routing footer count entirely.

        ``use_index=True`` is the LARGE-corpus path: instead of scanning
        the live view per batch, the batch's LSH signatures (hashed with
        the index's pinned hyperplanes) join the PERSISTED (table, sig)
        layout — the probe reads matching sig partitions only, never the
        corpus. Its cost is the candidate verification, ~batch × tables
        × bucket-rows folds, which the auto layout width holds ~FLAT in
        corpus size, while the scan path's map pass grows linearly —
        measured crossover ≈ 50-100M rows (STRESS.md "at-rest index
        probe": at 1M the scan wins 2.0s vs 95.6s; at 100 TB only the
        probe shape is runnable). Requires a current build_lsh_index/
        refresh_lsh_index (the usual coverage contract). Recall: exact
        duplicates always collide in every table; near-dup recall
        follows the multi-table OR (wider auto layouts trade it for
        selectivity) — the sign-bucket scan path is the
        deterministic-recall alternative."""
        from vector_database_spark.operators import dedup as _dedup

        thr = (
            _dedup.COSINE_NEARDUP_THRESHOLD if threshold is None else threshold
        )
        if use_index is None:
            # a tuned n_bucket_words is a scan-path knob — honor it
            use_index = (
                n_bucket_words == 1
                and self.route_for_near_duplicates(rows_hint) == "probe"
            )
        if use_index:
            if n_bucket_words != 1:
                raise ValueError(
                    "n_bucket_words applies to the sign-bucket scan path "
                    "only; the indexed probe uses the persisted LSH "
                    "layout's own (bits, tables) — rebuild the index to "
                    "change its selectivity"
                )
            return self._near_duplicates_indexed(points, thr)
        max_words = (self.info.dim + 31) // 32
        if n_bucket_words > max_words:
            raise ValueError(
                f"n_bucket_words={n_bucket_words} exceeds the "
                f"{self.info.dim}-d collection's sign-word capacity "
                f"({max_words} = ceil(dim/32))"
            )
        return _dedup.semdedup_incremental(
            points.select("id", "embedding"),
            self.df().select("id", "embedding"),
            id_col="id",
            threshold=thr,
            dim=self.info.dim,
            n_bucket_words=n_bucket_words,
        )

    def _near_duplicates_indexed(
        self, points: DataFrame, threshold: float
    ) -> DataFrame:
        """near_duplicates over the persisted LSH layout: batch rows
        hash with the index's PINNED seeded hyperplanes into the same
        (table, sig) long form, join the layout on the key (partition
        pruning at scale), candidates dedupe across tables, cosine
        verifies. DataFrame-native end to end — the batch never touches
        the driver (unlike search_lsh_batch's literal query rows, a
        dedup batch can be millions of rows)."""
        from vector_database_spark.functions.vector import computed_once
        from vector_database_spark.operators import ann

        meta = self._fresh_meta("lsh", "near_duplicates")
        # norms tagged ONCE PER ROW on each side (the _pair_sides lesson:
        # a per-pair cosine() pays 3 folds; try_divide(dot, nb*nc) pays 1)
        batch_sigs = ann.lsh_long_form(
            points.select(
                "id", "embedding", l2_norm(F.col("embedding")).alias("__nb")
            ),
            dim=self.info.dim,
            bits=meta["bits"],
            tables=meta["tables"],
            id_col="id",
            emb_col="embedding",
            payload_cols=("__nb",),
        ).select(
            "table",
            "sig",
            F.col("id").alias("batch_id"),
            F.col("embedding").alias("__eb"),
            "__nb",
        )
        from vector_database_spark.operators.dedup import norm_side

        layout = norm_side(
            self._masked_layout_df("lsh", meta),
            "id",
            "embedding",
            "corpus_id",
            "__ec",
            "__nc",
            extra=("table", "sig"),
        )
        # ORDER MATTERS twice here. (1) Score + threshold BEFORE the pair
        # dedupe: a pair colliding in several tables is a duplicate
        # candidate, but deduping first would shuffle every candidate WITH
        # both embedding arrays (~0.6 KB/row — measured tens of GB at a
        # 1M-corpus/10k-batch probe); filtering first means the
        # dropDuplicates shuffle carries only the (id, id, cos) survivors.
        # (2) The multi-table re-score is map-side CPU on candidates —
        # the honest LSH probe cost, bounded by tables × bucket rows per
        # batch row (auto layout width keeps bucket rows ~4096, so the
        # probe cost is ~flat in corpus size while the scan variant's
        # grows with it).
        cos = F.try_divide(
            dot(F.col("__eb"), F.col("__ec")), F.col("__nb") * F.col("__nc")
        )
        cand = batch_sigs.join(layout, ["table", "sig"]).select(
            "batch_id",
            "corpus_id",
            round6(computed_once(cos)).alias("cos"),
        )
        return (
            cand.filter(F.col("cos") >= threshold)
            .dropDuplicates(["batch_id", "corpus_id"])
            .orderBy("batch_id", "corpus_id")
        )

    def scroll(
        self,
        limit: int = 100,
        offset_id: int | None = None,
        payload_filter=None,
        order_by: str | None = None,
        offset_value=None,
    ) -> DataFrame:
        """Qdrant scroll API: stable ordered pagination with an optional
        payload filter. Pass the last id of the previous page as
        ``offset_id`` for the next page. Keyset pagination (id > offset)
        rather than OFFSET: the scan prunes to id > offset instead of
        skipping rows, so page N costs the same as page 1 at any scale.

        ``order_by`` (Qdrant scroll order_by): paginate ordered by a
        payload field instead of id. The keyset cursor is then the
        composite (order_value, id) of the last row of the previous page —
        pass both ``offset_value`` and ``offset_id``; ties on the order
        field are broken by id so the total order (and thus the page
        boundary) is deterministic.
        """
        df = self.df()
        if payload_filter is not None:
            df = df.filter(payload_filter)
        if order_by is None:
            if offset_id is not None:
                df = df.filter(F.col("id") > int(offset_id))
            return df.orderBy(F.col("id").asc()).limit(limit)
        key = F.col(order_by)
        if offset_value is not None:
            after = key > F.lit(offset_value)
            if offset_id is not None:
                after = after | (
                    (key == F.lit(offset_value)) & (F.col("id") > int(offset_id))
                )
            df = df.filter(after)
        return df.orderBy(key.asc(), F.col("id").asc()).limit(limit)

    def facet(
        self, key, payload_filter=None, limit: int = 10
    ) -> DataFrame:
        """Qdrant facet API (client.facet): distinct values of a payload
        field with their counts, most frequent first (value ASC tie-break),
        under an optional filter. ``key`` is a column name or Column
        expression into the payload struct. One partial-aggregated
        group-by — the shuffle is |distinct values|, not |points|.
        """
        df = self.df()
        if payload_filter is not None:
            df = df.filter(payload_filter)
        key_col = F.col(key) if isinstance(key, str) else key
        return (
            df.groupBy(key_col.alias("value"))
            .agg(F.count("*").alias("count"))
            .orderBy(F.col("count").desc(), F.col("value").asc())
            .limit(limit)
        )

    def cluster(
        self,
        k: int = 8,
        rounds: int = 3,
        payload_filter=None,
    ) -> DataFrame:
        """Cluster the collection's live points with the exact-integer
        distributed k-means (operators/clustering.py::kmeans_micro) —
        the curation entry point for SemDeDup-style dedup, cluster-
        balanced mixing, or building an IVF coarse quantizer over a
        collection. Deterministic: same points → same clustering, on any
        cluster size. Returns (id, cluster, dist_sq) for every live
        point matching the optional payload filter.
        """
        from vector_database_spark.operators.clustering import kmeans_micro

        df = self.df()
        if payload_filter is not None:
            df = df.filter(payload_filter)
        return kmeans_micro(df, vec_col="embedding", id_col="id", k=k, rounds=rounds)

    def discover(
        self,
        target,
        context: list[tuple[int, int]],
        limit: int = 5,
        payload_filter=None,
    ) -> DataFrame:
        """Qdrant discovery API (client.discover): ``target`` is a point id
        or a raw vector; ``context`` is (positive_id, negative_id) pairs.
        Candidates are ranked by how many pairs place them closer to the
        positive than the negative example (6dp-rounded cosine), tie-broken
        by similarity to the target; example/target points are excluded.
        Scoring is a literal-folded projection over ONE collection scan
        (operators/knn.py::discover).
        """
        from vector_database_spark.operators.knn import discover as _discover

        ex_ids = sorted({int(i) for pair in context for i in pair})
        lookup_ids = list(ex_ids)
        target_is_id = isinstance(target, int)
        if target_is_id and int(target) not in lookup_ids:
            lookup_ids.append(int(target))
        rows = self._point_vectors(lookup_ids)
        tv = rows[int(target)] if target_is_id else [float(x) for x in target]
        pairs = [(rows[int(p)], rows[int(n)]) for p, n in context]
        excluded = ex_ids + ([int(target)] if target_is_id else [])
        flt = ~F.col("id").isin(excluded)
        if payload_filter is not None:
            flt = flt & payload_filter
        return _discover(
            self.df().drop("norm", "version"),
            tv,
            pairs,
            k=limit,
            id_col="id",
            payload_cols=("payload",),
            pre_filter=flt,
        )

    def retrieve(self, point_ids: list[int]) -> DataFrame:
        """Qdrant retrieve API: multiple point lookups in one call. The id
        set is a pushed-down IN predicate over the bucketed layout — at
        most ``len(ids)`` bucket directories are touched."""
        ids = [int(i) for i in point_ids]
        return self.df().filter(F.col("id").isin(ids))

    def recommend(
        self,
        positive: list[int] | None = None,
        negative: list[int] | None = None,
        limit: int = 5,
        payload_filter=None,
        lookup_from: "VectorCollection | None" = None,
        strategy: str = "average_vector",
    ) -> DataFrame:
        """Qdrant recommend API. ``strategy`` selects the formula:

        * ``average_vector`` (default): one search with query vector
          mean(positives) − mean(negatives).
        * ``best_score``: per candidate, bp = best similarity to any
          positive, bn = best to any negative; score = bp if bp > bn
          else −bn² (Qdrant's published formula). Similarity metrics
          (cosine/dot) only.
        * ``sum_scores``: per candidate, Σ sim(positive) − Σ sim(negative),
          term association pinned left-to-right. Similarity metrics only.

        The example points are excluded from results.

        ``lookup_from`` (Qdrant lookup_from): resolve the example ids in a
        DIFFERENT collection (same dim) and search this one — the
        cross-collection recommendation shape (e.g. curated exemplars
        living in a small reference collection). Example ids are then NOT
        excluded from results (they are ids of the other collection).

        The example vectors are point lookups (bounded by the number of
        examples, not collection size) — collecting them to the driver is
        the same data movement Qdrant's server does internally.
        """
        if strategy not in ("average_vector", "best_score", "sum_scores"):
            raise ValueError(f"unknown recommend strategy {strategy!r}")
        positive = positive or []
        negative = negative or []
        if not positive and not negative:
            raise ValueError("recommend needs at least one example point")
        if strategy == "average_vector" and not positive:
            # Qdrant parity: only the score-based strategies accept
            # negative-only recommends
            raise ValueError(
                "average_vector recommend needs at least one positive "
                "example; use strategy='best_score' for negative-only"
            )
        # validate BEFORE the example-vector lookup job runs
        if strategy != "average_vector" and self.info.metric not in ("cosine", "dot"):
            raise ValueError(
                f"recommend strategy {strategy!r} needs a similarity metric "
                f"(cosine/dot); collection metric is {self.info.metric!r}"
            )
        ex_ids = [int(i) for i in positive] + [int(i) for i in negative]
        src = lookup_from if lookup_from is not None else self
        if lookup_from is not None and lookup_from.info.dim != self.info.dim:
            raise ValueError(
                f"lookup_from dim {lookup_from.info.dim} != collection dim {self.info.dim}"
            )
        rows = src._point_vectors(ex_ids)
        if strategy != "average_vector":
            return self._recommend_scored(
                strategy, rows, positive, negative, limit, payload_filter,
                exclude=lookup_from is None,
            )
        dim = self.info.dim
        qv = [0.0] * dim
        for i in positive:
            for j, x in enumerate(rows[i]):
                qv[j] += float(x) / len(positive)
        for i in negative:
            for j, x in enumerate(rows[i]):
                qv[j] -= float(x) / len(negative)
        if lookup_from is None:
            flt = ~F.col("id").isin(ex_ids)
            if payload_filter is not None:
                flt = flt & payload_filter
        else:
            flt = payload_filter
        return self.search(qv, limit=limit, payload_filter=flt)

    def _sim_expr(self, metric: str, query_vector: list[float]):
        """Similarity of each row's stored embedding to a literal vector —
        the SAME expression search() scores with (stored-norm cosine with
        the legacy non-positive-norm NULL guard, or plain dot), shared so
        search and scored recommends stay bit-identical."""
        q = F.array(*[F.lit(float(x)) for x in query_vector]).cast("array<double>")
        if metric == "cosine":
            qn = sum(float(x) * float(x) for x in query_vector) ** 0.5 or 1.0
            return round6(
                F.when(
                    F.col("norm") > 0.0,
                    dot(F.col("embedding"), q) / (F.col("norm") * F.lit(qn)),
                )
            )
        return round6(dot(F.col("embedding"), q))

    def _recommend_scored(
        self, strategy, rows, positive, negative, limit, payload_filter, exclude
    ) -> DataFrame:
        """best_score / sum_scores recommend: per-candidate scoring against
        the literal-folded exemplar vectors — one scan, TakeOrdered, no
        join (the same shape as queries.q_recommend_best_score /
        q_recommend_sum_scores, here under the collection's metric).
        Negative-only calls are supported (Qdrant allows them for the
        score-based strategies): best_score ranks by −bn², sum_scores by
        −Σ sim(negative)."""
        metric = self.info.metric
        pos_terms = [self._sim_expr(metric, rows[int(i)]) for i in positive]
        neg_terms = [self._sim_expr(metric, rows[int(i)]) for i in negative]

        def _sum(terms):
            out = terms[0]
            for t in terms[1:]:
                out = out + t
            return out

        if strategy == "best_score":
            bp = F.greatest(*pos_terms) if len(pos_terms) > 1 else (
                pos_terms[0] if pos_terms else None
            )
            bn = F.greatest(*neg_terms) if len(neg_terms) > 1 else (
                neg_terms[0] if neg_terms else None
            )
            if bp is not None and bn is not None:
                score = F.when(bp > bn, bp).otherwise(round6(-(bn * bn)))
            elif bp is not None:
                score = bp
            else:
                score = round6(-(bn * bn))
        else:  # sum_scores
            if pos_terms and neg_terms:
                score = _sum(pos_terms) - _sum(neg_terms)
            elif pos_terms:
                score = _sum(pos_terms)
            else:
                score = -_sum(neg_terms)
        # _resolved_df keeps the stored norm column the cosine path needs
        df = self._resolved_df().drop("bucket", "tenant")
        if exclude:
            ex = [int(i) for i in positive] + [int(i) for i in negative]
            df = df.filter(~F.col("id").isin(ex))
        if payload_filter is not None:
            df = df.filter(payload_filter)
        return (
            df.select("id", score.alias("score"), "payload")
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(limit)
        )

    def batch_update(self, ops: list[tuple]) -> int:
        """Qdrant batch_update_points: one request carrying a SEQUENCE of
        mixed operations (upserts / deletes / payload ops), applied in
        order. Each op is one versioned log append here, so the sequence
        is visible op-by-op in time travel and a failed op stops the batch
        with every prior op durable (Qdrant applies batches in order with
        per-op acknowledgement, not as one transaction).

        Ops: ("upsert", points_df) | ("delete", ids_list)
           | ("set_payload", ids_list, payload_dict)
           | ("delete_payload", ids_list, keys_list)
           | ("clear_payload", ids_list)
        Returns the final version.
        """
        dispatch = {
            "upsert": lambda a: self.upsert(a[0]),
            "delete": lambda a: self.delete(point_ids=a[0]),
            "set_payload": lambda a: self.set_payload(a[0], a[1]),
            "delete_payload": lambda a: self.delete_payload(a[0], a[1]),
            "clear_payload": lambda a: self.clear_payload(a[0]),
        }
        for op in ops:
            kind, *args = op
            if kind not in dispatch:
                raise ValueError(f"unknown batch op {kind!r}")
            dispatch[kind](args)
        return self.info.version

    # -- snapshots (Qdrant create_snapshot / list_snapshots / recover) -----
    def create_snapshot(self, name: str | None = None) -> str:
        """Record a named restore point (Qdrant create_snapshot). With the
        log-structured layout a snapshot is just a version pin — zero data
        copied, because ``df(as_of_version=...)`` already reconstructs any
        past state from the write/tombstone log. Valid until ``compact()``
        folds the history it points into.
        """
        with self.catalog._lock():
            cat = self.catalog._load()
            info = cat[self.info.name]
            name = name or f"snap-v{info['version']}"
            snaps = info.setdefault("snapshots", {})
            if name in snaps:
                raise ValueError(f"snapshot {name!r} already exists")
            snaps[name] = info["version"]
            self.catalog._save(cat)
        return name

    def list_snapshots(self) -> dict[str, int]:
        """{snapshot_name: pinned_version} (Qdrant list_snapshots)."""
        return dict(self.catalog._load()[self.info.name].get("snapshots", {}))

    def delete_snapshot(self, name: str) -> None:
        """Drop a restore point (Qdrant delete_snapshot). Zero data moves
        — the pin is removed from the catalog, and with it its hold on
        the compaction policy: partial folds (r9) stop at the OLDEST live
        pin, so deleting the oldest snapshot is exactly how an operator
        releases the history below it for reclamation on the next
        evaluation. Raises KeyError for unknown names (symmetric with
        restore_snapshot)."""
        with self.catalog._lock():
            cat = self.catalog._load()
            snaps = cat[self.info.name].get("snapshots", {})
            if name not in snaps:
                raise KeyError(f"no such snapshot: {name}")
            del snaps[name]
            self.catalog._save(cat)

    def restore_snapshot(self, name: str) -> int:
        """Roll the collection back to a snapshot's state (Qdrant
        recover_snapshot). The restore is itself just more log: ids live now
        but absent at the snapshot get tombstoned, and the snapshot rows are
        re-upserted at a fresh version — so a restore is versioned, visible
        in time travel, and undoable like any other write. Not atomic
        against concurrent writers (two catalog commits); Qdrant's recover
        likewise replaces state out-of-band. Returns the final version.
        """
        info = self.catalog._load()[self.info.name]
        snaps = info.get("snapshots", {})
        if name not in snaps:
            raise KeyError(f"no such snapshot: {name}")
        pinned = snaps[name]
        if pinned < info.get("compacted_at", 0):
            raise ValueError(
                f"snapshot {name!r} (v{pinned}) predates compact() at "
                f"v{info['compacted_at']}; its history is folded away"
            )
        snap = self.df(as_of_version=pinned).select("id", "embedding", "payload")
        # the post-snapshot id diff stays a DataFrame end to end: at scale
        # that set is unbounded, so it is anti-joined and fed straight into
        # delete() as a distributed tombstone write, never collect()ed.
        # localCheckpoint pins the diff on executors BEFORE delete appends
        # to the tombstone dir this plan reads — lineage through a path
        # being appended to would be read-while-write.
        doomed = (
            self.df()
            .select("id")
            .join(snap.select("id"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        try:
            if not doomed.isEmpty():
                self.delete(point_ids=doomed)
            if not snap.isEmpty():
                self.upsert(snap)
        finally:
            _release_local_checkpoints(doomed)
        return self.info.version

    def maybe_auto_compact(
        self, _raw_rows: int | None = None, _raw_version: int | None = None
    ) -> bool:
        """Evaluate the auto-compaction policy and fold if it fires (see
        the AUTO_COMPACT_* constants): at least MIN_BATCHES versions since
        the last fold, no snapshot pinning history past it, and the raw
        log holding >= MIN_AMPLIFICATION x the live rows. The live count
        (the only non-footer-cheap part) is paid at most once per
        MIN_BATCHES writes: a declined evaluation stamps
        ``auto_compact_checked_at`` so the next MIN_BATCHES writes skip
        the check entirely. Runs automatically at the end of every
        upsert()/delete(); returns True iff a compaction happened —
        callers that need the forfeited time travel create a snapshot
        (which suspends the policy) or opt out at create_collection."""
        info = self.catalog._load()[self.info.name]
        if not info.get("auto_compact", True):
            return False
        version = info["version"]
        compacted_at = info.get("compacted_at", 0)
        checked_at = max(compacted_at, info.get("auto_compact_checked_at", 0))
        if version - checked_at < AUTO_COMPACT_MIN_BATCHES:
            return False
        snaps = info.get("snapshots", {})
        # >= not >: restore_snapshot accepts pinned == compacted_at as
        # valid, so a snapshot pinned exactly at the last fold is a live
        # restore point (r8 review). Pins no longer suspend the policy
        # outright: compact(respect_snapshots=True) folds PARTIALLY up to
        # the oldest live pin (r9 directive 2) — only a pin sitting AT the
        # last fold leaves nothing to reclaim, so only that case declines
        # here. This is a fast-path pre-check; the fold repeats it UNDER
        # its lock, closing the race with a concurrent create_snapshot.
        live_pins = [v for v in snaps.values() if v >= compacted_at]
        if live_pins and min(live_pins) <= compacted_at:
            return False
        # footer metadata only; optimize() passes its already-paid count,
        # honored only while the catalog version it was captured at still
        # holds (a concurrent write invalidates it — same staleness
        # discipline as compact()'s _hint_version)
        raw = (
            _raw_rows
            if _raw_rows is not None and _raw_version == version
            else self._approx_live_rows()
        )
        if raw == 0:
            # no raw data — but a tombstone log can still grow without
            # bound (deletes of absent ids, deletes after an empty fold):
            # every read joins it, so fold it away too (r8 review 2)
            if self._tombstone_log_bytes() > 0:
                return self.compact(
                    respect_snapshots=True,
                    _live_rows_hint=0,
                    _hint_version=version,
                )
            with self.catalog._lock():
                cat = self.catalog._load()
                cat[self.info.name]["auto_compact_checked_at"] = version
                self.catalog._save(cat)
            return False
        live = self.df().count()
        if live == 0 or raw / live >= AUTO_COMPACT_MIN_AMPLIFICATION:
            # live == 0 is MAXIMUM amplification, not a no-op: every read
            # still scans the full dead log + tombstones until the fold
            # clears both (compact handles the empty fold — r8 review)
            if self.compact(
                respect_snapshots=True,
                _live_rows_hint=live,
                _hint_version=version,
            ):
                return True
            # declined UNDER the fold's lock (a pin landed at the fold
            # point concurrently) — amortize like the ratio decline
        # declined: amortize the count() by not re-evaluating for
        # another MIN_BATCHES writes
        with self.catalog._lock():
            cat = self.catalog._load()
            cat[self.info.name]["auto_compact_checked_at"] = version
            self.catalog._save(cat)
        return False

    def optimize(self) -> dict:
        """Qdrant's background optimizer as ONE explicit, idempotent call
        (the reference's Qdrant server compacts segments and reindexes in
        the background — compose.yaml:2-12; a batch engine does it on
        schedule): (1) bring every EXISTING stale ANN index back to
        freshness — since r10 EVERY family refreshes incrementally
        (LSH/IVF r7-r8, NSW/IVFPQ r10), falling back to a full rebuild
        when a fold broke delta reconstruction or a quality escalation
        fires (drift / delta fraction / width outgrowth below), each
        rebuild reusing the persisted caller build params (None stays
        None, so auto points re-derive at the grown size); then (2)
        evaluate the write-log compaction policy
        (maybe_auto_compact — snapshots and the opt-out are respected).
        Index work runs BEFORE the fold on purpose: refresh needs the
        intact log, and compact() mints no version, so refreshed indexes
        stay fresh across it.

        IVF additionally carries the centroid-drift escalation (r9): when
        the accumulated refresh drift ratio crosses
        IVF_DRIFT_REBUILD_RATIO the refresh path (or even a nominally
        fresh index) escalates to a full rebuild — pinned centroids that
        no longer describe the write distribution cost recall that only a
        KMeans retrain recovers. LSH and IVF carry the analogous
        layout-outgrowth escalation (r9): an auto-sized layout the
        collection outgrew — LSH two bits under _auto_lsh_bits, IVF
        cells at half _auto_n_centroids (both ≡ N grew ≥4×, hysteresis
        absorbing the raw-count upper bound) — rebuilds at the
        re-derived size ('rebuilt_width'), skipping the pointless
        refresh whose segments the rebuild would discard; this is the growth mode the
        drift ratio cannot see (same-distribution growth keeps drift ~1
        while per-cell scan cost balloons). NSW's delta-fraction
        escalation CONSOLIDATES (segment merge — r11 directive 5)
        instead of rebuilding, falling back to the rebuild only when the
        merge can't run; the non-graph families (IVF/LSH/IVFPQ) get the
        flat-layout sibling (r11): once a family's side mask grows past
        LAYOUT_MASK_CONSOLIDATE_FRACTION of its layout, the masked view
        is rewritten mask-free with NO retraining — pure search-cost
        debt shed (the mask join, the segment file accretion) while the
        pinned quantizers and their drift evidence survive verbatim.
        Returns an action report: ``{"compacted": bool,
        <kind>: "fresh"|"refreshed"|"consolidated"|"rebuilt"|
        "rebuilt_drift"|"rebuilt_width"}``."""
        report: dict = {}
        status = self.index_status()
        # ONE raw footer count shared by the sizing checks and the
        # compaction policy (r9 review: this was previously paid up to
        # three times per optimize() — once per outgrowth check, once in
        # the policy). The catalog version is captured BEFORE the count:
        # if a concurrent write lands after the capture the versions
        # can only diverge, so maybe_auto_compact's guard rejects the
        # precomputed value instead of trusting a stale one.
        raw_version = self.catalog._load()[self.info.name]["version"]
        raw_rows = self._approx_live_rows()
        for kind in self._INDEX_KINDS:
            st = status[kind]
            if not st["exists"]:
                continue
            # volume-floored (r9 review): index_status's drift_ratio is
            # unconditional monitoring; the REBUILD trigger additionally
            # requires _ivf_drift_volume_ok so an outlier row can't force
            # (and, post-reset, keep re-forcing) a full KMeans retrain.
            # r10: IVFPQ carries the same ratio over its ADC recon-error
            # statistic (pinned codebooks under distribution shift), and
            # NSW the delta-fraction analogue (graph quality decays as
            # masked nodes + small delta graphs accumulate).
            drifted = self._index_drift_exceeded(kind)
            # Layout-outgrowth staleness (r9): an auto-sized layout the
            # collection has OUTGROWN — LSH bucket sizes scale N/2^bits
            # and IVF cell sizes scale N/k, so a width/cell-count chosen
            # at build size degrades probe cost as N grows (and for IVF
            # the drift ratio can NOT catch it: same-distribution growth
            # keeps the ratio ~1 while cells balloon). Checked here (one
            # footer count), not in index_status, which sits on the
            # per-search routing path.
            outgrown = (
                kind == "lsh" and self._lsh_width_outgrown(raw_rows)
            ) or (kind == "ivf" and self._ivf_cells_outgrown(raw_rows))
            if st["fresh"]:
                if not (drifted or outgrown):
                    # healthy index — but a mask grown past the layout
                    # fraction is pure search-cost debt the non-graph
                    # families can shed without retraining (r11)
                    if kind != "nsw" and self._mask_consolidation_due(kind):
                        self._consolidate_layout(kind)
                        report[kind] = "consolidated"
                    else:
                        report[kind] = "fresh"
                    continue
                # fresh but drifted/outgrown: coverage is current, recall
                # or probe cost is not — fall through to the rebuild
            elif not outgrown:
                # every family refreshes incrementally since r10 (IVF/LSH
                # r7-r8, NSW/IVFPQ r10 — the maintenance matrix is full).
                # outgrown skips the refresh entirely: its segments would
                # be discarded by the rebuild two lines later, and a
                # refresh pass is exactly the large-collection cost the
                # escalation exists to respend on a retrain (r9 review)
                try:
                    getattr(self, f"refresh_{kind}_index")()
                    # the refresh just recorded its segment's stats —
                    # re-evaluate before declaring the index healthy
                    drifted = self._index_drift_exceeded(kind)
                    if not drifted:
                        if kind != "nsw" and self._mask_consolidation_due(
                            kind
                        ):
                            self._consolidate_layout(kind)
                            report[kind] = "consolidated"
                        else:
                            report[kind] = "refreshed"
                        continue
                except ValueError:
                    pass  # folded history → rebuild
            if kind == "nsw" and drifted and not outgrown:
                # NSW's quality escalation CONSOLIDATES instead of
                # rebuilding (r11, verdict directive 5): the Lucene
                # merge-policy analogue keeps healthy base adjacency and
                # re-inserts only delta rows + mask-damaged nodes —
                # <50% of the full re-train at the 0.5 delta fraction
                # that triggers this path. Falls through to the rebuild
                # only if consolidation can't run (stale after a failed
                # refresh above, or no live base rows to merge into).
                try:
                    self.consolidate_nsw_index()
                    report[kind] = "consolidated"
                    continue
                except ValueError:
                    pass
            # the caller's build args, so a tables=8 index never comes
            # back as tables=4 (None stays None: auto sizes re-derive)
            params = self._index_meta(kind)["build_params"]
            getattr(self, f"build_{kind}_index")(**params)
            report[kind] = (
                "rebuilt_drift"
                if drifted
                else ("rebuilt_width" if outgrown else "rebuilt")
            )
        report["compacted"] = self.maybe_auto_compact(
            _raw_rows=raw_rows, _raw_version=raw_version
        )
        return report

    def _lsh_width_outgrown(self, raw_rows: int | None = None) -> bool:
        """True iff the persisted LSH layout was built AUTO-width
        (build_params bits=None) and the collection outgrew it —
        ann._auto_lsh_bits now derives at least TWO bits more than the
        layout has. The LSH parallel of IVF cell outgrowth: hyperplanes
        never depended on the data, but bucket sizes grow as N/2^bits,
        so a width chosen at build size degrades probe cost without
        bound. The +2 hysteresis mirrors the IVF check's 2× (bits are
        log2, so it means N grew ≥4×) and absorbs the raw-footer-count
        upper bound this sizes from: auto-compaction bounds raw at ~2×
        live, i.e. ≤ +1 bit of inflation, so pure update churn can
        never trigger a spurious full rebuild (r9 review). Explicitly
        pinned widths never escalate — the caller's choice stands."""
        meta = self._index_meta("lsh")
        if meta["build_params"]["bits"] is not None:
            return False
        from vector_database_spark.operators import ann

        rows = raw_rows if raw_rows is not None else self._approx_live_rows()
        return ann._auto_lsh_bits(rows) >= int(meta["bits"]) + 2

    def _ivf_cells_outgrown(self, raw_rows: int | None = None) -> bool:
        """True iff the persisted IVF index was built AUTO-sized
        (build_params n_centroids=None) and the collection has outgrown
        its cell count — _auto_n_centroids(live rows) now derives at
        least 2× the built k. The 2× hysteresis (k ∝ √N, so it means N
        grew ≥4×) keeps steady growth from thrashing rebuilds; pinned
        cell counts never escalate. This is the growth
        mode the drift ratio cannot see: same-distribution writes keep
        refreshed rows as close to the pinned centroids as the build
        was, while every cell's row count — and with it the scan cost of
        each probe — balloons. Sizing uses the raw footer count (an
        upper bound on live rows): with auto-compaction bounding raw at
        ~2× live, the √N derivation inflates ≤ √2 — under the 2×
        hysteresis, so churn cannot thrash rebuilds; an opted-out,
        never-folded collection may escalate early, which only re-trains
        sooner than strictly needed."""
        meta = self._index_meta("ivf")
        if meta["build_params"]["n_centroids"] is not None:
            return False
        from vector_database_spark.operators import ann

        rows = raw_rows if raw_rows is not None else self._approx_live_rows()
        return ann._auto_n_centroids(rows) >= 2 * len(meta["centroids"])

    def _index_drift_exceeded(self, kind: str) -> bool:
        """optimize()'s per-family quality escalation, read from the
        persisted index meta.

        IVF and IVFPQ: the meta's drift ratio crossed
        IVF_DRIFT_REBUILD_RATIO on a non-trivial refreshed volume
        (_ivf_drift_volume_ok — a handful of outlier rows must not force
        a full KMeans retrain of a large collection, r9 review). IVF's
        statistic is the centroid-assign distance; IVFPQ's (r10,
        mirroring the r9 IVF pattern) is the mean ADC reconstruction
        error under the same keys (see build_ivfpq_index's drift_stat
        marker): pinned codebooks quantize a shifted write distribution
        WORSE — recall decays with no coverage signal; past the ratio
        only a retrain (build_ivfpq_index, which optimize() runs)
        recovers it.

        NSW (r10): the accumulated CHURN fraction vs the base build.
        Delta segments are small independent graphs and masked-out base
        nodes leave holes the beam must route around — both decay recall
        gradually, and neither has a per-row drift statistic (graph
        quality is global). Per segment the signal is max(rows,
        superseded): superseded covers delete-only churn (mask holes with
        zero delta rows — rows alone would never fire, r10 review). Past
        NSW_DELTA_REBUILD_FRACTION of build_rows,
        optimize() re-trains one consolidated graph instead of
        refreshing again.

        LSH never escalates: seeded hyperplanes are data-independent —
        only coverage and width can stale, both handled elsewhere."""
        meta = self._index_meta(kind)
        if meta is None or kind == "lsh":
            return False
        if kind == "nsw":
            return _nsw_churn(meta) >= (
                NSW_DELTA_REBUILD_FRACTION * meta["build_rows"]
            )
        ratio = _ivf_drift_ratio(meta)
        return (
            ratio is not None
            and ratio >= IVF_DRIFT_REBUILD_RATIO
            and _ivf_drift_volume_ok(meta)
        )

    def _require_points(self, op: str) -> None:
        """Fail fast with a clear error when an index build is attempted
        on a collection with no live points: KMeans/graph construction on
        zero rows would otherwise surface as an opaque MLlib/executor
        error (r8 review 2). One resolved isEmpty probe — negligible next
        to any index build."""
        if self.df().isEmpty():
            raise ValueError(
                f"{op}: collection {self.info.name!r} has no live points; "
                "nothing to index"
            )

    def _recover_interrupted_fold(self) -> bool:
        """Crash recovery for compact()'s directory swap: a fold that died
        between its two renames leaves the data path missing (or renamed
        aside) with the complete folded layout still in ``__compact``.
        Called where the missing-path state is observed (_raw_df, compact,
        upsert, _approx_live_rows) — completes the swap instead of reading
        the collection as empty. Cheap: two existence checks, only on the
        missing-path branch. Returns True iff it actually renamed a
        directory back into place: recovery mints NO catalog version, so
        compact()'s stale-hint version guard cannot see it — the caller
        must invalidate any live-rows hint computed before the recovery
        (r9 review)."""
        tmp, _ = self._fold_asides(self.path)
        if not os.path.exists(self.path) and os.path.isdir(tmp):
            try:
                os.rename(tmp, self.path)
                return True
            except OSError:
                # another reader/fold completed the recovery concurrently;
                # fine as long as the data path exists now
                if not os.path.exists(self.path):
                    raise
                return True
        return False

    def compact(
        self,
        respect_snapshots: bool = False,
        _live_rows_hint: int | None = None,
        _hint_version: int | None = None,
    ) -> bool:
        """Fold the version history down to latest-wins minus tombstones
        (like Delta OPTIMIZE), preserving the bucketed layout and
        materialized norms; clears the tombstone log. Stamps
        ``compacted_at`` so restores of snapshots older than the fold fail
        loudly instead of reconstructing a partial state. Returns True iff
        the fold ran.

        ``respect_snapshots=True`` (the auto-compaction policy's mode)
        re-checks for live restore points UNDER the fold's lock and folds
        PARTIALLY instead of destroying one (r9 directive 2): versions up
        to the oldest live pin collapse into a single latest-wins base
        stamped at that pin, later batches and tombstones survive, and
        ``compacted_at`` advances to the pin — every pinned snapshot stays
        restorable while the history below it stops amplifying reads. It
        declines (returns False) only when the oldest pin sits exactly at
        the last fold. A manual compact() keeps full-folding regardless
        (the documented trade, surfaced loudly at restore time). ``_live_rows_hint`` lets the policy pass the live
        count it just computed so the fold doesn't re-resolve the whole
        collection a second time just to learn emptiness — but the hint
        was computed OUTSIDE this lock, so it is honored only when
        ``_hint_version`` still equals the catalog version under the lock
        (every state change mints a version under the same lock, so
        version equality proves nothing moved). A stale or unversioned
        hint falls back to ``current.isEmpty()`` — the destructive
        empty branch can never fire off a hint a concurrent writer
        invalidated, and the inverse staleness (concurrent
        delete-to-empty behind a non-zero hint) can never write an
        unreadable empty layout (r8 ADVICE).

        Runs under the catalog lock: a concurrent upsert/delete committed
        between the snapshot read and the overwrite (or tombstone rmtree)
        would otherwise be silently lost / resurrect deleted ids. The
        layout swap is two renames with a recovery hook
        (_recover_interrupted_fold): a crash between them leaves the
        folded layout intact in ``__compact`` and the next read or fold
        completes the swap — no window where data is only in a dir a
        later fold would blindly delete (r8 review 2)."""
        import shutil

        with self.catalog._lock():
            # recovery mints NO catalog version: if it just renamed the
            # crashed fold's layout back into place, any live-rows hint the
            # policy computed beforehand described the missing-path state —
            # version equality can't prove otherwise, so drop the hint
            recovered = self._recover_interrupted_fold()
            self._recover_interrupted_tombstone_shrink()
            if recovered:
                _live_rows_hint = _hint_version = None
            info = self.catalog._load()[self.info.name]
            fold_to: int | None = None  # None = full fold
            if respect_snapshots:
                compacted_at = info.get("compacted_at", 0)
                live_pins = [
                    v
                    for v in info.get("snapshots", {}).values()
                    if v >= compacted_at
                ]
                if live_pins:
                    # PARTIAL fold (r9 directive 2): snapshots no longer
                    # block compaction outright — history BELOW the oldest
                    # live pin folds (versions <= fold_to collapse to one
                    # latest-wins base stamped fold_to; batches and
                    # tombstones above it survive untouched), so an
                    # always-snapshotted collection's read amplification
                    # is bounded by (1 + batches since the oldest pin)
                    # instead of growing without bound.
                    fold_to = min(live_pins)
                    if fold_to <= compacted_at:
                        # the oldest pin sits AT the last fold — nothing
                        # below it left to reclaim
                        return False
            if fold_to is None:
                current = self._resolved_df()
            else:
                folded = self._resolved_df(
                    as_of_version=fold_to
                ).withColumn("version", F.lit(fold_to).cast("long"))
                later = self._raw_df().filter(F.col("version") > fold_to)
                current = folded.unionByName(later)
            tmp, old = self._fold_asides(self.path)
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
            # the policy's hint counts CURRENT live rows — in partial mode
            # "empty" must mean the whole union (a live count of 0 with a
            # populated pinned snapshot must NOT take the destructive
            # branch), so the hint applies to full folds only
            hint_valid = (
                fold_to is None
                and _live_rows_hint is not None
                and _hint_version is not None
                and info["version"] == _hint_version
            )
            empty = (
                _live_rows_hint == 0 if hint_valid else current.isEmpty()
            )
            if empty:
                # all-deleted collection: the fold is "drop everything" —
                # writing an empty frame and reading it back would crash
                # on schema inference, and before r8 this state was also
                # permanently exempt from auto-compaction, so the dead
                # log grew forever with no working reclaim path (review).
                # The ANN index/mask dirs go too: they describe data that
                # no longer exists, refresh would (correctly) refuse
                # across the fold, and a rebuild on an empty collection
                # has nothing to train on — dropping them routes
                # search_auto to the exact scan of the empty state.
                shutil.rmtree(self.path, ignore_errors=True)
                for kind in self._INDEX_KINDS:
                    shutil.rmtree(self._index_path(kind), ignore_errors=True)
                    shutil.rmtree(self._mask_path(kind), ignore_errors=True)
                self.catalog._evict_layouts(self.info.name)
            else:
                # range-repartition on (partition cols, id) so the folded
                # layout is ~one file per (bucket, id-range) instead of
                # tasks x buckets small files (the r8 lsh/ivf-write
                # finding: 16k files -> 514 at 200k rows): compaction
                # exists to bound read cost, and file count / footer
                # reads are part of that cost. Range (not hash-on-bucket)
                # keeps a giant bucket spread over multiple write tasks.
                # ONE write + a rename-aside swap — the pre-r8 version
                # wrote to tmp then re-shuffled and re-wrote into
                # self.path (a second full write that scales with the
                # data; at 1M the resolve dominates so the measured
                # saving is modest, but the pass was pure waste at any
                # size). Rename-aside (not rmtree-then-rename): the old
                # layout survives until the new one is in place, so a
                # crash at any point leaves a recoverable copy and the
                # swap window is two renames.
                fold_keys = [F.col(c) for c in self._partition_cols] + [
                    F.col("id")
                ]
                current.repartitionByRange(*fold_keys).write.mode(
                    "overwrite"
                ).partitionBy(*self._partition_cols).parquet(tmp)
                os.rename(self.path, old)
                try:
                    os.rename(tmp, self.path)
                except OSError:
                    # a concurrent reader's _recover_interrupted_fold may
                    # have completed the swap between our two renames
                    if not os.path.exists(self.path):
                        raise
                shutil.rmtree(old, ignore_errors=True)
            # stamp compacted_at BEFORE clearing/shrinking the tombstone
            # log: a crash between the two then leaves tombstones present
            # AND the refresh fold-guard active — both safe directions
            # (leftover folded tombstones re-apply as no-ops). The pre-r9
            # order (rmtree first) left a window where deletes were
            # unreconstructible (no tombstone, no raw row) while
            # covers >= compacted_at still passed, so a later
            # refresh_lsh/ivf_index silently kept serving deleted ids
            # (r8 ADVICE). A partial fold stamps fold_to: restores of the
            # pinned snapshots stay valid, and the refresh fold-guard
            # refuses exactly the coverage windows whose deltas the fold
            # made unreconstructible (covers < fold_to).
            cat = self.catalog._load()
            cat[self.info.name]["compacted_at"] = (
                fold_to if fold_to is not None else cat[self.info.name]["version"]
            )
            self.catalog._save(cat)
            if fold_to is None or empty:
                # full fold (or nothing live anywhere): every delete is
                # folded into the data — the whole log is dead weight
                shutil.rmtree(self._tombstone_path, ignore_errors=True)
            else:
                self._shrink_tombstones(fold_to)
        return True

    def _shrink_tombstones(self, fold_to: int) -> None:
        """Drop tombstones with version <= ``fold_to`` (their deletes are
        folded into the data) by rewriting the log — the partial fold's
        twin of the full fold's rmtree. Crash-safe: called AFTER
        compacted_at is stamped, and the swap is write-complete-then-two-
        renames with a recovery hook (_recover_interrupted_tombstone_
        shrink), so every crash point leaves either the old log (a
        read-correct superset) or the complete shrunk one."""
        import shutil

        if not os.path.exists(self._tombstone_path):
            return
        tmp, old = self._shrink_asides(self._tombstone_path)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        kept = self.catalog.spark.read.parquet(self._tombstone_path).filter(
            F.col("version") > fold_to
        )
        if kept.isEmpty():
            shutil.rmtree(self._tombstone_path, ignore_errors=True)
            return
        kept.write.parquet(tmp)
        os.rename(self._tombstone_path, old)
        try:
            os.rename(tmp, self._tombstone_path)
        except OSError:
            if not os.path.exists(self._tombstone_path):
                raise
        shutil.rmtree(old, ignore_errors=True)

    def _recover_interrupted_tombstone_shrink(self) -> None:
        """Crash recovery for _shrink_tombstones' swap: a shrink that died
        between its renames leaves the tombstone path missing with either
        the complete shrunk log in ``__shrink`` (preferred — it was fully
        written before any rename) or the original in ``__preshrink``.
        Reads that skipped a missing tombstone dir would otherwise
        silently resurrect deleted ids.

        After recovering one candidate the OTHER aside dir is deleted
        (r9 review): a leftover ``__preshrink`` would outlive a LATER
        full fold's rmtree of the live log and get zombie-recovered as
        the tombstone log the fold intentionally destroyed — read-
        correct (folded tombstones re-apply as no-ops) but re-joined on
        every read forever."""
        import shutil

        tmp, old = self._shrink_asides(self._tombstone_path)
        if not os.path.exists(self._tombstone_path):
            for cand in (tmp, old):
                if os.path.isdir(cand):
                    try:
                        os.rename(cand, self._tombstone_path)
                    except OSError:
                        if not os.path.exists(self._tombstone_path):
                            raise
                    break
            else:
                return  # nothing to recover, nothing to clean
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)

    # -- query (SURVEY B1-B10) -----------------------------------------------
    def _approx_live_rows(self) -> int:
        """Cheap upper bound on live points for plan sizing: the RAW row
        count across every version batch (parquet footer metadata — no
        column data is read, unlike count(), which resolves latest-wins).
        Superseded versions only shrink the live set, so as a dispatch
        hint this errs exclusively toward the scale-safe branch.

        Only the structural no-data states map to 0 (path absent, or
        present but holding no readable parquet yet — AnalysisException
        at plan time). Transient read/executor failures PROPAGATE: this
        count feeds maybe_auto_compact's empty branch, and a swallowed
        IO error masquerading as an empty collection would route a
        populated collection into the destructive fold (r8 ADVICE).

        A missing path is NOT immediately structural: a fold that crashed
        mid-swap leaves the complete layout aside in __compact — recover
        it first (mirroring _raw_df) so a crashed fold can never make the
        policy read a populated collection as empty (r9 review: recovery
        mints no version, so compact()'s hint-version guard alone cannot
        catch a hint computed against the missing-path state)."""
        if not os.path.exists(self.path):
            self._recover_interrupted_fold()
        if not os.path.exists(self.path):
            return 0
        try:
            return self.catalog.spark.read.parquet(self.path).count()
        except AnalysisException:
            return 0

    def search_batch(
        self,
        queries: list[tuple[int, list[float]]],
        limit: int = 5,
        pair_row_budget: int = 2_000_000,
    ) -> DataFrame:
        """B5 on the collection API: top-k per query vector in one pass
        (one collection scan — see operators/knn.py).

        Cosine collections dispatch through :func:`knn_batch_auto`: below
        ``pair_row_budget`` scored candidates the broadcast-queries window
        plan runs; above it the two-phase heap plan bounds the shuffle to
        k·P rows per query. The sizing hint is the raw footer row count
        (an upper bound — see _approx_live_rows), so growth can only flip
        the dispatch toward the scale-safe branch. Other metrics keep the
        window plan (the heap kernel scores cosine)."""
        spark = self.catalog.spark
        df = self.df()
        if self.info.metric == "cosine":
            from vector_database_spark.operators.knn import knn_batch_auto

            return knn_batch_auto(
                queries,
                df,
                k=limit,
                id_col="id",
                payload_cols=("payload",),
                exclude_self=False,
                pair_row_budget=pair_row_budget,
                rows_hint=self._approx_live_rows(),
            )
        from vector_database_spark.operators.knn import knn_batch

        qdf = spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in queries],
            "qid long, qv array<float>",
        )
        return knn_batch(
            qdf,
            df,
            k=limit,
            metric=self.info.metric,
            id_col="id",
            payload_cols=("payload",),
            exclude_self=False,
        )

    # -- graph ANN index (build-once, search-many) --------------------------
    def build_nsw_index(
        self, n_buckets: int | None = None, M: int = 8, ef_construction: int = 64
    ) -> None:
        """Materialize the per-bucket NSW graph index for the CURRENT live
        state (operators/ann.py::nsw_index_write) — the HNSW-class index a
        Qdrant server builds internally (compose.yaml:2-12), as an explicit
        ingest-time step. ``n_buckets=None`` (the default since r9)
        derives the bucket count from the live row count
        (ann._auto_nsw_buckets — ~25k rows/bucket, the Lucene-segment
        model) so per-bucket build time and executor memory stay bounded
        as the collection grows; an explicit int pins the layout, and the
        persisted caller intent means optimize()'s rebuilds re-derive at
        the grown size. The index pins the collection version it was
        built from; searching after later writes raises until a rebuild
        (an honest staleness contract — Qdrant reindexes in the
        background, a batch engine does it on schedule). The pinned
        version is read from the PERSISTED catalog, not this handle, so
        writes through other handles/processes are seen. Cosine only:
        the graph stores normalized vectors (raise up front otherwise)."""
        from vector_database_spark.operators import ann

        if self.info.metric != "cosine":
            raise ValueError(
                f"build_nsw_index requires a cosine collection; "
                f"{self.info.name!r} uses metric={self.info.metric!r}"
            )
        self._require_points("build_nsw_index")
        current_version = self.catalog._load()[self.info.name]["version"]
        emb = self.df().select("id", "embedding")
        # __seg 0 = the base graphs; refresh_nsw_index appends DELTA
        # graphs as later segments in disjoint _b partitions (the Lucene
        # multi-segment model — every bucket is searched and merged, so
        # a segment's buckets compose for free; see nsw_search_layout)
        built = ann.nsw_graph_rows(
            emb,
            n_buckets=n_buckets,
            M=M,
            ef_construction=ef_construction,
            id_col="id",
            emb_col="embedding",
        ).withColumn("__seg", F.lit(0))
        built.write.mode("overwrite").partitionBy("_b").parquet(
            self._index_path("nsw")
        )
        import shutil as _shutil

        _shutil.rmtree(self._mask_path("nsw"), ignore_errors=True)
        build_rows = int(
            self.catalog.spark.read.parquet(self._index_path("nsw")).count()
        )
        self.catalog._write_index_meta(
            self._index_path("nsw"),
            {
                "built_at_version": current_version,
                "covers_version": current_version,
                "next_seg": 1,
                # caller args, so optimize() rebuilds the same point
                "build_params": {
                    "n_buckets": n_buckets,
                    "M": M,
                    "ef_construction": ef_construction,
                },
                # sizes the delta-fraction escalation
                # (_index_drift_exceeded): graph quality decays as
                # masked-out base nodes and small delta graphs
                # accumulate, so optimize() retrains past the ratio
                "build_rows": build_rows,
            },
        )

    def search_nsw(
        self, query_vector: list[float], limit: int = 5, ef: int | None = None
    ) -> DataFrame:
        """Approximate cosine top-k over the persisted NSW graph index:
        beam search per bucket partition, global merge — zero build cost
        per query. ``ef=None`` (the default) lets the scale-aware beam
        flow through (operators/ann.py::_auto_ef — max(48, 2·√bucket_rows),
        chosen inside the per-bucket kernel), so single-query searches get
        the same recall envelope as ``search_auto_batch``'s NSW route; an
        explicit int pins the beam. Raises if no index exists or the
        collection has been written since the index was built. Returns
        (qid, id, score); on a small collection with a wide beam this
        equals exact search (asserted in tests/test_catalog.py)."""
        from vector_database_spark.operators import ann

        meta = self._fresh_meta("nsw", "search_nsw")
        return ann.nsw_search_layout(
            self._masked_layout_df("nsw", meta),
            [(0, [float(x) for x in query_vector])],
            k=limit,
            ef=ef,
            id_col="id",
            emb_col="embedding",
        )

    # a refresh segment's delta graphs land in their own _b partitions:
    # segment s's buckets live at [s·STRIDE, (s+1)·STRIDE) — disjoint
    # from every other segment's by construction. The FLOOR is wider
    # than any auto bucket count (NSW_MAX_BUCKETS = 4096) while keeping
    # seg·STRIDE inside the INT _b column for ~200k segments (the
    # delta-fraction escalation consolidates long before that, but an
    # opted-out caller shouldn't hit a silent int overflow either); a
    # base build PINNED past the floor widens the stride to match
    # (_nsw_seg_stride), else segment 1's buckets would collide with
    # base buckets >= 10,000 and the merged applyInPandas group would
    # hold two disconnected graphs the beam can't cross (r10 review)
    _NSW_SEG_BUCKET_STRIDE = 10_000

    def _nsw_seg_stride(self, meta: dict) -> int:
        """Deterministic per-index segment stride: the floor, widened to
        a pinned base n_buckets when the caller exceeded it. Derived
        from the persisted build_params so a crash-retried refresh of
        the same segment always lands in the same bucket range."""
        pinned = meta["build_params"]["n_buckets"] or 0
        return max(self._NSW_SEG_BUCKET_STRIDE, int(pinned))

    def refresh_nsw_index(self) -> int:
        """INCREMENTALLY fold the writes since the last build/refresh
        into the persisted NSW index (r9 directive 1 — the last
        rebuild-only family): live rows of every id written since
        ``covers_version`` build a SMALL NSW graph of their own, appended
        as a new segment whose buckets occupy a disjoint ``_b`` range;
        superseded ids mask out exactly as in the IVF/LSH refreshes.
        Search needs no new machinery at all: nsw_search_layout already
        beams EVERY bucket and merges (the layout is a parallelism unit,
        not a pruning key), so delta-segment buckets join the same merge
        — the Lucene per-segment-HNSW model. Masked-out base rows drop
        BEFORE graph reconstruction; the beam routes around the missing
        nodes (adjacency stores ids, the position map skips absent ones),
        costing a little recall on large deltas — which is why
        optimize() escalates to a full rebuild past
        NSW_DELTA_REBUILD_FRACTION (the graph-quality analogue of the
        IVF drift escalation). Returns the number of delta rows."""
        from vector_database_spark.operators import ann

        def build_delta(live: DataFrame, meta: dict, seg: int) -> DataFrame:
            bp = meta["build_params"]
            return ann.nsw_graph_rows(
                live.select("id", "embedding"),
                # the delta's bucket count always auto-derives from the
                # DELTA row count (~25k rows/bucket): a pinned base
                # n_buckets describes the BASE corpus size — reusing it
                # for a small delta would shatter the delta into
                # near-empty graphs with no beam to speak of
                n_buckets=None,
                M=bp["M"],
                ef_construction=bp["ef_construction"],
                id_col="id",
                emb_col="embedding",
                bucket_offset=seg * self._nsw_seg_stride(meta),
            ).withColumn("__seg", F.lit(seg)).localCheckpoint(eager=False)
            # ^ checkpointed lazily: the protocol counts the delta AND
            # writes it — without the pin the applyInPandas graph build
            # (the expensive part of an NSW refresh) would run twice

        return self._refresh_protocol("nsw", build_delta)

    def consolidate_nsw_index(self) -> int:
        """Fold the NSW delta segments back into the base graphs WITHOUT
        a full rebuild — the Lucene merge-policy analogue (r10 verdict
        directive 5). optimize() calls this when accumulated churn
        crosses NSW_DELTA_REBUILD_FRACTION: a full rebuild at that point
        re-trains 100% of the corpus (the most expensive build of any
        family — ~70s/1M), while consolidation keeps every healthy base
        node's adjacency and re-inserts only the delta rows plus the
        base nodes the masks damaged (operators/ann.py::
        nsw_merge_graph_rows) — <50% of rebuild cost at 0.5 delta
        fraction, recall within the rebuild's envelope (STRESS.md "NSW
        consolidation vs rebuild").

        Requires a FRESH index (optimize refreshes first; a stale call
        raises the usual coverage error). Post-state matches a rebuild's:
        one __seg=0 layout over the base bucket range, masks cleared,
        refresh_stats reset, build_rows re-measured — so the
        delta-fraction escalation restarts from zero. The layout swap is
        staged-then-rename (the merge READS the old layout, so an
        in-place overwrite would be read-under-write); a crash between
        the swap steps leaves no index dir and search raises its
        explicit no-index error — the same worst case as a crashed
        build_nsw_index overwrite. Returns the consolidated row count."""
        from vector_database_spark.operators import ann

        meta = self._fresh_meta("nsw", "consolidate_nsw_index")
        bp = meta["build_params"]
        merged = ann.nsw_merge_graph_rows(
            self._masked_layout_df("nsw", meta),
            M=bp["M"],
            ef_construction=bp["ef_construction"],
            id_col="id",
            emb_col="embedding",
        ).withColumn("__seg", F.lit(0))
        index_path = self._index_path("nsw")
        staging = self._stage_path("nsw")
        import shutil as _shutil

        _shutil.rmtree(staging, ignore_errors=True)
        merged.write.mode("overwrite").partitionBy("_b").parquet(staging)
        rows = int(self.catalog.spark.read.parquet(staging).count())
        _shutil.rmtree(index_path, ignore_errors=True)
        os.rename(staging, index_path)
        _shutil.rmtree(self._mask_path("nsw"), ignore_errors=True)
        current_version = self.catalog._load()[self.info.name]["version"]
        self.catalog._write_index_meta(
            index_path,
            {
                "built_at_version": meta["built_at_version"],
                "covers_version": current_version,
                "next_seg": 1,
                # the CALLER's build intent is preserved — a later
                # width-based rebuild still re-derives auto points
                "build_params": bp,
                "build_rows": rows,
            },
        )
        return rows

    # -- IVF index (coarse quantization, nprobe = partition pruning) --------
    def build_ivf_index(self, n_centroids: int | None = None) -> None:
        """Materialize the IVF index for the CURRENT live state: KMeans
        centroids + a centroid_id-partitioned Parquet layout
        (operators/ann.py::ivf_index / ivf_write_partitioned), so nprobe
        becomes partition pruning at search time. ``n_centroids=None``
        (the default since round 7) derives k from the live row count
        (√N, the FAISS rule) and bounds KMeans training to a ≤256·k-row
        seeded sample — the scale-aware build; an explicit int pins the
        layout. Centroids are persisted in the index meta alongside the
        pinned collection version; the same staleness contract as the
        NSW/LSH indexes applies. Cosine only (probe order ranks centroids
        by cosine)."""
        from vector_database_spark.operators import ann

        if self.info.metric != "cosine":
            raise ValueError(
                f"build_ivf_index requires a cosine collection; "
                f"{self.info.name!r} uses metric={self.info.metric!r}"
            )
        self._require_points("build_ivf_index")
        current_version = self.catalog._load()[self.info.name]["version"]
        emb = self.df().select("id", "embedding", "payload")
        assigned, centroids = ann.ivf_index(
            emb, n_centroids=n_centroids, id_col="id", emb_col="embedding"
        )
        # __seg 0 = the base build; refresh_ivf_index appends later write
        # deltas as __seg 1, 2, ... with a superseded-id mask next to the
        # layout (see refresh_ivf_index) — the segment+tombstone design
        # every LSM-ish index uses
        ann.ivf_write_partitioned(
            assigned.withColumn("__seg", F.lit(0)), self._index_path("ivf")
        )
        import shutil as _shutil

        _shutil.rmtree(self._mask_path("ivf"), ignore_errors=True)
        # build-time drift baseline (r9): mean distance of every indexed
        # row to its assigned centroid. Computed off the just-written
        # layout — one plain parquet scan, instead of re-executing the
        # KMeans.transform lineage a third time.
        dist = _dist_to_assigned_centroid(centroids)
        build_mean, build_rows = (
            self.catalog.spark.read.parquet(self._index_path("ivf"))
            .select(
                dist(
                    F.col("embedding").cast("array<double>"),
                    F.col("centroid_id").cast("int"),
                ).alias("d")
            )
            .agg(F.avg("d"), F.count(F.lit(1)))
            .first()
        )
        self.catalog._write_index_meta(
            self._index_path("ivf"),
            {
                "built_at_version": current_version,
                # highest collection version this index correctly
                # serves; refresh advances it without a rebuild
                "covers_version": current_version,
                "next_seg": 1,
                "build_params": {"n_centroids": n_centroids},
                "centroids": [[float(x) for x in c] for c in centroids],
                # drift baseline; refresh_stats accumulates the same
                # statistic per refresh segment (see _ivf_drift_ratio)
                "build_mean_assign_dist": float(build_mean),
                # sizes the escalation's volume floor (_ivf_drift_volume_ok)
                "build_rows": int(build_rows),
            },
        )

    def refresh_ivf_index(self) -> int:
        """INCREMENTALLY fold the writes since the last build/refresh into
        the persisted IVF index — the batch-engine twin of Qdrant's
        background reindexing, instead of the full rebuild the staleness
        contract otherwise demands.

        Mechanics (segment + mask): live rows of every id written since
        ``covers_version`` are assigned to the EXISTING centroids (one
        Arrow-batched argmin over the pinned centroid matrix — no KMeans
        retrain) and appended to the layout as a new ``__seg``; every
        written-or-deleted id gets a (id, seg) row in a side MASK table,
        meaning "rows of this id with __seg < seg are dead". Search reads
        the layout, left-joins the (size-gated broadcast) mask aggregate
        and keeps a row iff it is unmasked or belongs to the newest
        segment for its id — so an updated point is served its NEW vector
        and a deleted point disappears, with zero rewrite of existing
        segments. Centroids are pinned, so partition pruning and probe
        routing are unchanged; a corpus whose distribution drifts far from
        the pinned centroids should eventually full-rebuild (the same
        trade Qdrant's optimizer makes when it rewrites segments).

        Returns the number of delta rows appended. No-op (returns 0)
        when the index already covers the current version."""
        import numpy as np

        def build_delta(live: DataFrame, meta: dict, seg: int) -> DataFrame:
            centroids = np.asarray(meta["centroids"], dtype=np.float64)
            assigned = _assign_pinned_centroids(
                live.select("id", "embedding", "payload"), centroids
            )
            return assigned.select(
                "id",
                "embedding",
                "payload",
                F.lit(seg).alias("__seg"),
                "centroid_id",
                "__assign_dist",
            )

        return self._refresh_protocol("ivf", build_delta)

    def _refresh_protocol(self, kind: str, build_delta) -> int:
        """The segment-refresh protocol shared by every refresh_<kind>_index
        (one copy of the guards and commit ordering —
        r8 review): open + validate the meta, compute the written /
        superseded id sets from the append-only logs (pinned eagerly so a
        concurrent writer's auto-compact rmtree'ing the tombstone dir
        mid-refresh cannot crash the mask write or silently drop deleted
        ids from it), resolve the delta's live rows (pre-filtered
        latest-wins, pinned once — the family delta builders and the
        count + write would otherwise re-execute the scan several times),
        commit the segment + mask idempotently (staged write +
        seg-prefixed file renames, so a crash-retry REPLACES its segment
        instead of double-materializing rows both of which pass the
        mask), re-check the fold guard, then advance coverage.

        ``build_delta(live, meta, seg)`` returns the family's seg-stamped
        delta DataFrame, which lands under the family's layout partition
        keys."""
        KIND = kind.upper()
        index_path = self._index_path(kind)
        partition_by = self._INDEX_KINDS[kind][1]
        meta = self._index_meta(kind)
        if meta is None:
            raise ValueError(
                f"collection {self.info.name!r} has no {KIND} index; "
                f"call build_{kind}_index() first"
            )
        cat_info = self.catalog._load()[self.info.name]
        current_version = cat_info["version"]
        covers = meta["covers_version"]
        if covers == current_version:
            return 0
        if covers < cat_info.get("compacted_at", 0):
            # compact() (manual or auto) folded the write/tombstone log
            # the delta scan would need: a delete between covers and the
            # fold left no tombstone AND no raw row, so a refresh could
            # never learn to mask it — stale ids would be served. Refuse;
            # only a full rebuild sees the folded state correctly.
            raise ValueError(
                f"{KIND} index of {self.info.name!r} covers version "
                f"{covers} but compact() folded history at "
                f"{cat_info.get('compacted_at', 0)}; the deltas are no "
                f"longer reconstructible — rebuild with build_{kind}_index()"
            )
        seg = int(meta["next_seg"])
        spark = self.catalog.spark

        # every id WRITTEN since covers supersedes its older index rows;
        # every id DELETED since covers must vanish. Both come from the
        # append-only logs, so the delta scan never touches old segments.
        # All the pins below are released in the finally (ADVICE r10:
        # repeated refreshes in one long session accumulated checkpoint
        # blocks on executors — the NSW delta graphs worst of all).
        written = superseded = live = delta = None
        try:
            written = (
                self._raw_df()
                .filter(F.col("version") > covers)
                .select("id")
                .distinct()
                .localCheckpoint(eager=True)
            )
            superseded = written
            if not os.path.exists(self._tombstone_path):
                self._recover_interrupted_tombstone_shrink()
            if os.path.exists(self._tombstone_path):
                deleted = (
                    spark.read.parquet(self._tombstone_path)
                    .filter(F.col("version") > covers)
                    .select("id")
                    .distinct()
                )
                superseded = superseded.unionByName(deleted).distinct()
            superseded = superseded.localCheckpoint(eager=True)

            live = self._live_rows_of(written).localCheckpoint(eager=True)
            delta = build_delta(live, meta, seg)
            # a family that emits __assign_dist (IVF) gets its drift
            # statistic folded into the SAME pass that counts the delta —
            # no extra scan; the column is dropped before the segment
            # write (it describes the refresh event, not the index rows)
            mean_dist = None
            if "__assign_dist" in delta.columns:
                agg = delta.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.avg("__assign_dist").alias("d"),
                ).first()
                n_delta, mean_dist = int(agg["n"]), agg["d"]
                delta = delta.drop("__assign_dist")
            else:
                n_delta = delta.count()
            if n_delta:
                self._commit_seg_files(
                    delta.repartition(*partition_by),
                    index_path,
                    seg,
                    partition_by=partition_by,
                )
            self._commit_seg_files(
                superseded.select("id", F.lit(seg).alias("mask_seg")),
                self._mask_path(kind),
                seg,
            )

            # fold-guard re-check at commit time: if a concurrent writer's
            # auto-compact fired after the up-front check, the segments just
            # written are fine (masked per usual) but coverage must NOT
            # advance — the delta scans above may predate the fold
            if covers < self.catalog._load()[self.info.name].get(
                "compacted_at", 0
            ):
                raise ValueError(
                    f"compact() folded history during a refresh of "
                    f"{self.info.name!r}; rebuild the index"
                )
            meta["covers_version"] = current_version
            meta["next_seg"] = seg + 1
            # accumulate per-segment stats; a full rebuild rewrites the
            # meta and resets the series. rows AND superseded are recorded
            # for EVERY family: rows sizes the drift volume floor,
            # superseded (the written ∪ deleted id count — an upper bound
            # on nodes the mask removed from earlier segments) drives the
            # NSW delta-fraction escalation, which would otherwise be
            # blind to delete-only churn (masks punch holes in the base
            # graph without appending a single delta row — r10 review).
            # The mean drift statistic only where the family emits one
            # (IVF assign distance, IVFPQ reconstruction error).
            stat: dict = {
                "seg": seg,
                "rows": n_delta,
                "superseded": int(superseded.count()),
            }
            if mean_dist is not None:
                stat["mean_assign_dist"] = float(mean_dist)
            meta.setdefault("refresh_stats", []).append(stat)
            self.catalog._write_index_meta(
                index_path,
                meta,
                retry_key=f"{meta['generation']}/seg{seg}",
            )
            return n_delta
        finally:
            # delta first: its plan may lean on live's checkpoint, but the
            # leaf walk is order-insensitive and unpersist is idempotent
            _release_local_checkpoints(delta, live, superseded, written)

    def _commit_seg_files(
        self,
        df: DataFrame,
        dest: str,
        seg: int,
        partition_by: tuple[str, ...] = (),
    ) -> None:
        """Write ``df`` into ``dest`` as segment ``seg`` idempotently:
        stage to a scratch dir, delete any ``seg{seg}-*`` files a crashed
        prior attempt left in ``dest``, then rename the staged part files
        in under ``seg{seg}-`` names (same-filesystem os.replace). The
        prefix makes a retried refresh REPLACE its segment instead of
        appending a duplicate copy. Local-FS only, like the rest of the
        catalog's metadata handling."""
        import shutil as _shutil

        staging = f"{dest}__stage_seg{seg}"
        _shutil.rmtree(staging, ignore_errors=True)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        prefix = f"seg{seg}-"
        if os.path.isdir(dest):
            for dp, _dirs, files in os.walk(dest):
                for f in files:
                    if f.startswith(prefix):
                        try:
                            os.remove(os.path.join(dp, f))
                        except OSError:
                            pass
        for dp, _dirs, files in os.walk(staging):
            rel = os.path.relpath(dp, staging)
            out_dir = dest if rel == "." else os.path.join(dest, rel)
            for f in files:
                if not f.endswith(".parquet") or f.startswith(("_", ".")):
                    continue
                os.makedirs(out_dir, exist_ok=True)
                os.replace(
                    os.path.join(dp, f), os.path.join(out_dir, prefix + f)
                )
        _shutil.rmtree(staging, ignore_errors=True)

    def _live_rows_of(self, ids: DataFrame) -> DataFrame:
        """Latest-wins minus tombstones, RESTRICTED to the given ids
        (a single-column id DataFrame): the raw log is id-joined BEFORE
        the latest-wins window, so resolving a refresh delta scans the
        write batch's ids instead of windowing the whole collection —
        at 1M points that full window dominated refresh cost (r8: LSH
        refresh 12.5s of which ~8s was df()'s collection-wide window;
        the pre-filtered scan drops it to the delta's share). Returns
        (id, embedding, payload)."""
        raw = self._raw_df().join(ids, "id")
        rows = latest_wins(raw, id_col="id", version_col="version")
        if os.path.exists(self._tombstone_path):
            tombs = (
                self.catalog.spark.read.parquet(self._tombstone_path)
                .join(ids, "id")
                .groupBy("id")
                .agg(F.max("version").alias("__del_v"))
            )
            rows = (
                rows.join(tombs, "id", "left")
                .filter(
                    F.col("__del_v").isNull()
                    | (F.col("version") > F.col("__del_v"))
                )
                .drop("__del_v")
            )
        return rows.select("id", "embedding", "payload")

    # -- kind-keyed index plumbing, shared by every family ------------------
    # What differs between the ANN index families: the label their
    # coverage errors use, and their layout's partition keys (refresh
    # segments and the no-retrain consolidation write with the same
    # keys). Everything else derives from the kind string. Ordered by
    # auto-routing priority: measured recall@5 on the bench fixture
    # (BENCH_LOCAL.json ann_operating_points / recall_at_5) — nsw 1.0,
    # lsh 0.90, ivf 0.88, ivfpq 0.82 at their default points
    _INDEX_KINDS = {
        "nsw": ("NSW", ("_b",)),
        "lsh": ("LSH", ("table", "sig")),
        "ivf": ("IVF", ("centroid_id",)),
        "ivfpq": ("IVF+PQ", ("centroid_id",)),
    }

    @staticmethod
    def _index_dirs(path: str, kind: str) -> tuple[str, str, str]:
        """``kind``'s layout, refresh-mask and consolidation-stage dirs
        for the collection at ``path``."""
        index = f"{path}__{kind}"
        return index, index + "_mask", index + "__consolidate_stage"

    def _index_path(self, kind: str) -> str:
        return self._index_dirs(self.path, kind)[0]

    def _mask_path(self, kind: str) -> str:
        return self._index_dirs(self.path, kind)[1]

    def _stage_path(self, kind: str) -> str:
        return self._index_dirs(self.path, kind)[2]

    def _index_meta(self, kind: str) -> dict | None:
        """``kind``'s persisted index meta; None when no index exists."""
        meta_path = os.path.join(self._index_path(kind), "_index_meta.json")
        try:
            with open(meta_path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def _fresh_meta(self, kind: str, op: str) -> dict:
        """Load ``kind``'s index meta and enforce the coverage contract
        every search, consolidation and indexed probe relies on: the base
        build or a later refresh_<kind>_index must cover the collection's
        current version."""
        if self.info.metric != "cosine":
            raise ValueError(
                f"{op} requires a cosine collection; "
                f"{self.info.name!r} uses metric={self.info.metric!r}"
            )
        label = self._INDEX_KINDS[kind][0]
        meta = self._index_meta(kind)
        if meta is None:
            raise ValueError(
                f"collection {self.info.name!r} has no {label} index; "
                f"call build_{kind}_index() first"
            )
        current_version = self.catalog._load()[self.info.name]["version"]
        covers = meta["covers_version"]
        if covers != current_version:
            raise ValueError(
                f"{label} index of {self.info.name!r} covers version "
                f"{covers} but the collection is at {current_version}; "
                f"refresh_{kind}_index() or rebuild with build_{kind}_index()"
            )
        return meta

    def _masked_layout_df(self, kind: str, meta: dict) -> DataFrame:
        """:meth:`_read_masked_layout`, reused for as long as the
        ``generation`` token of the index ``meta`` the caller just read
        stands (Catalog._write_index_meta re-mints it on every write):
        the file listing, schema and mask broadcast decision are
        resolved once per index generation instead of once per query,
        and partition filters still prune against the cached listing."""
        generation = meta["generation"]
        index_path = self._index_path(kind)
        cached = self.catalog._layouts.get(index_path)
        if cached is not None and cached[0] == generation:
            return cached[1]
        layout = self._read_masked_layout(kind)
        self.catalog._layouts[index_path] = (generation, layout, None)
        return layout

    def _read_masked_layout(self, kind: str) -> DataFrame:
        """``kind``'s segment-stamped index layout with refresh segments
        RESOLVED, read afresh: superseded rows (older __seg of a
        rewritten id, any row of a deleted id) drop via the side mask —
        size-gated broadcast, same byte budget as the tombstone join.
        Shared by every index family (one copy of the semantics — r8
        review)."""
        mask_path = self._mask_path(kind)
        rows = self.catalog.spark.read.parquet(self._index_path(kind))
        if not os.path.exists(mask_path):
            return rows
        mask = (
            self.catalog.spark.read.parquet(mask_path)
            .groupBy("id")
            .agg(F.max("mask_seg").alias("__mask_seg"))
        )
        if self._dir_parquet_bytes(mask_path) <= TOMBSTONE_BROADCAST_MAX_BYTES:
            mask = F.broadcast(mask)
        return (
            rows.join(mask, "id", "left")
            .filter(
                F.col("__mask_seg").isNull()
                | (F.col("__seg") >= F.col("__mask_seg"))
            )
            .drop("__mask_seg")
        )

    def _mask_consolidation_due(self, kind: str) -> bool:
        """True when ``kind``'s side mask has grown to
        LAYOUT_MASK_CONSOLIDATE_FRACTION of its layout (footer row
        counts only — metadata reads, never a scan). Mask rows are one
        per (id, seg) refresh event, so repeatedly-rewritten ids count
        more than once: an over-estimate that only consolidates
        EARLIER, the safe direction (each mask row is also real search
        join cost)."""
        index_path, mask_path = self._index_path(kind), self._mask_path(kind)
        if not os.path.isdir(mask_path) or not os.path.isdir(index_path):
            return False
        spark = self.catalog.spark
        try:
            mask_rows = spark.read.parquet(mask_path).count()
            layout_rows = spark.read.parquet(index_path).count()
        except AnalysisException:
            return False
        # the mask holds one row per (id, seg); the LSH layout holds
        # `tables` copies per id — normalize to per-id units or the
        # multi-table families would need tables x the churn to trigger
        if kind == "lsh":
            layout_rows //= int(self._index_meta(kind)["tables"])
        return mask_rows >= LAYOUT_MASK_CONSOLIDATE_FRACTION * max(
            layout_rows, 1
        )

    def _consolidate_layout(self, kind: str) -> int:
        """Fold a non-graph family's delta segments and side mask back
        into a mask-free layout WITHOUT re-training (r11 — the
        flat-layout sibling of :meth:`consolidate_nsw_index`): the
        masked view (dead rows dropped, newest segment per id kept) is
        rewritten under the family's own partitioning and atomically
        swapped in, the mask dir deleted. Pinned centroids / codebooks /
        hyperplanes are untouched, so search routing is IDENTICAL —
        what changes is cost: the per-search mask join disappears (and
        with it the risk of the mask outgrowing its broadcast byte
        gate), and the layout stops accreting small segment files.

        The meta is preserved VERBATIM apart from a ``consolidations``
        audit entry — in particular ``refresh_stats`` and
        ``build_rows`` survive: for IVF/IVFPQ those carry the centroid/
        codebook DRIFT evidence, which consolidation does NOT pay down
        (the pinned quantizers still describe the write distribution
        exactly as well or badly as before), so resetting them would
        blind the drift escalation across compactions. ``next_seg``
        also keeps incrementing — segment ids are never reused.
        Requires a FRESH index (optimize() refreshes first). Returns
        the consolidated row count."""
        meta = self._fresh_meta(kind, f"consolidate_{kind}_index")
        index_path = self._index_path(kind)
        partition_by = self._INDEX_KINDS[kind][1]
        live = self._masked_layout_df(kind, meta)
        staging = self._stage_path(kind)
        import shutil as _shutil

        _shutil.rmtree(staging, ignore_errors=True)
        live.write.mode("overwrite").partitionBy(*partition_by).parquet(
            staging
        )
        rows = int(self.catalog.spark.read.parquet(staging).count())
        _shutil.rmtree(index_path, ignore_errors=True)
        os.rename(staging, index_path)
        _shutil.rmtree(self._mask_path(kind), ignore_errors=True)
        meta.setdefault("consolidations", []).append(
            {
                "at_version": self.catalog._load()[self.info.name][
                    "version"
                ],
                "rows": rows,
            }
        )
        self.catalog._write_index_meta(index_path, meta)
        return rows

    def consolidate_ivf_index(self) -> int:
        """No-retrain IVF layout compaction — see _consolidate_layout."""
        return self._consolidate_layout("ivf")

    def consolidate_ivfpq_index(self) -> int:
        """No-retrain IVF+PQ layout compaction — see _consolidate_layout."""
        return self._consolidate_layout("ivfpq")

    def consolidate_lsh_index(self) -> int:
        """No-retrain LSH layout compaction — see _consolidate_layout."""
        return self._consolidate_layout("lsh")

    def search_ivf(
        self, query_vector: list[float], limit: int = 5, nprobe: int | None = None
    ) -> DataFrame:
        """Approximate cosine top-k over the persisted IVF index: the
        ``nprobe`` nearest centroids become a centroid_id PARTITION
        predicate (only those directories are read), exact cosine re-ranks
        inside them. ``nprobe=None`` derives the probe count from the
        index's centroid count and the target scan fraction
        (operators/ann.py::_auto_nprobe) — the scale-aware default.
        Raises if no index exists or the collection has been written past
        what the index COVERS (a refresh_ivf_index advances coverage
        without a rebuild). Returns (id, payload, score)."""
        import numpy as np

        from vector_database_spark.operators import ann

        meta = self._fresh_meta("ivf", "search_ivf")
        return ann.ivf_knn(
            self._masked_layout_df("ivf", meta),
            np.asarray(meta["centroids"], dtype=float),
            [float(x) for x in query_vector],
            k=limit,
            nprobe=nprobe,
            id_col="id",
            emb_col="embedding",
            payload_cols=("payload",),
        )

    def search_ivf_batch(
        self,
        queries: list[tuple[int, list[float]]],
        limit: int = 5,
        nprobe: int | None = None,
    ) -> DataFrame:
        """Batch search over the persisted IVF index: ONE scan of the
        union of every query's probe cells (operators/ann.py::
        ivf_knn_batch), map-side per-query probe filtering, row-identical
        to per-query :meth:`search_ivf` at the same nprobe. Same
        coverage contract (build or refresh). Returns (qid, id, payload,
        score)."""
        import numpy as np

        from vector_database_spark.operators import ann

        meta = self._fresh_meta("ivf", "search_ivf_batch")
        return ann.ivf_knn_batch(
            self._masked_layout_df("ivf", meta),
            np.asarray(meta["centroids"], dtype=float),
            queries,
            k=limit,
            nprobe=nprobe,
            id_col="id",
            emb_col="embedding",
            payload_cols=("payload",),
        )

    # -- IVF+PQ composite index (FAISS "IVFxx,PQyy" production shape) -------
    def build_ivfpq_index(
        self, n_centroids: int | None = None, m: int = 8, ksub: int = 16
    ) -> None:
        """Materialize the IVF+PQ composite index (Jégou et al. 2011 §V)
        for the CURRENT live state: KMeans cell assignment + per-row PQ
        codes, written partitioned by centroid_id so the query's nprobe
        cells are partition-pruned and the ADC pass reads only those
        cells' ~m-byte codes. ``n_centroids=None`` derives k from the
        live row count with sample-bounded KMeans training, like
        :meth:`build_ivf_index`. Centroids AND codebooks persist in the
        index meta with the pinned collection version; same staleness
        contract as the other index surfaces. Cosine only."""
        from vector_database_spark.operators import ann

        if self.info.metric != "cosine":
            raise ValueError(
                f"build_ivfpq_index requires a cosine collection; "
                f"{self.info.name!r} uses metric={self.info.metric!r}"
            )
        self._require_points("build_ivfpq_index")
        current_version = self.catalog._load()[self.info.name]["version"]
        emb = self.df().select("id", "embedding")
        assigned, centroids = ann.ivf_index(
            emb, n_centroids=n_centroids, id_col="id", emb_col="embedding"
        )
        books = ann.pq_train(emb, id_col="id", emb_col="embedding", m=m, ksub=ksub)
        codes = ann.pq_encode(
            assigned.select("id", "centroid_id", "embedding"),
            books,
            id_col="id",
            emb_col="embedding",
            payload_cols=("centroid_id",),
            with_recon_err=True,
        ).persist()
        try:
            # build-time drift baseline (r10, mirroring IVF's r9 pattern):
            # mean ADC reconstruction error ||e − decode(code)||₂ over the
            # whole build. A write distribution the codebooks never saw
            # reconstructs WORSE; refresh_ivfpq_index accumulates the same
            # statistic per segment and optimize() escalates past
            # IVF_DRIFT_REBUILD_RATIO (shared threshold) on non-trivial
            # refreshed volume.
            agg = codes.agg(
                F.avg("__recon_err").alias("d"), F.count(F.lit(1)).alias("n")
            ).first()
            build_mean, build_rows = float(agg["d"]), int(agg["n"])
            ann.ivf_write_partitioned(
                codes.drop("__recon_err").withColumn("__seg", F.lit(0)),
                self._index_path("ivfpq"),
            )
        finally:
            codes.unpersist()
        import shutil as _shutil

        _shutil.rmtree(self._mask_path("ivfpq"), ignore_errors=True)
        self.catalog._write_index_meta(
            self._index_path("ivfpq"),
            {
                "built_at_version": current_version,
                "covers_version": current_version,
                "next_seg": 1,
                # caller args (n_centroids=None stays None: a rebuild
                # at a grown collection should re-derive sqrt-N)
                "build_params": {
                    "n_centroids": n_centroids,
                    "m": m,
                    "ksub": ksub,
                },
                "centroids": [[float(x) for x in c] for c in centroids],
                "codebooks": [
                    [[float(x) for x in row] for row in book] for book in books
                ],
                # drift baseline: the stat here is PQ reconstruction
                # error (not centroid-assign distance), stored under
                # the family-generic keys so _ivf_drift_ratio /
                # _ivf_drift_volume_ok apply unchanged
                "drift_stat": "pq_recon_err",
                "build_mean_assign_dist": build_mean,
                "build_rows": build_rows,
            },
        )

    def refresh_ivfpq_index(self) -> int:
        """INCREMENTALLY fold the writes since the last build/refresh
        into the persisted IVF+PQ index (r10 — with refresh_nsw_index
        this completes the maintenance matrix: no family is rebuild-only
        anymore): live rows of every id written since ``covers_version``
        are assigned to the PINNED coarse centroids (the same BLAS argmin
        as the IVF refresh) and PQ-encoded with the PINNED codebooks,
        appended as a new ``__seg``; superseded ids mask exactly as in
        the other families. Per delta row the pass also computes the ADC
        reconstruction error under the pinned codebooks — the codebook
        drift statistic ( _refresh_protocol folds its mean into
        refresh_stats; optimize() escalates refresh→rebuild past the
        shared ratio when pinned codebooks stop describing the write
        distribution). Returns the number of delta rows."""
        import numpy as np

        from vector_database_spark.operators import ann

        def build_delta(live: DataFrame, meta: dict, seg: int) -> DataFrame:
            centroids = np.asarray(meta["centroids"], dtype=np.float64)
            books = np.asarray(meta["codebooks"], dtype=np.float64)
            assigned = _assign_pinned_centroids(live, centroids)
            codes = ann.pq_encode(
                assigned.select("id", "centroid_id", "embedding"),
                books,
                id_col="id",
                emb_col="embedding",
                payload_cols=("centroid_id",),
                with_recon_err=True,
            )
            # __recon_err is THIS family's drift statistic — hand it to
            # the protocol under the generic stat column name
            return codes.select(
                "id",
                "centroid_id",
                "code",
                F.lit(seg).alias("__seg"),
                F.col("__recon_err").alias("__assign_dist"),
            )

        return self._refresh_protocol("ivfpq", build_delta)

    def search_ivfpq(
        self,
        query_vector: list[float],
        limit: int = 5,
        nprobe: int | None = None,
        shortlist: int | None = None,
    ) -> DataFrame:
        """Approximate cosine top-k over the persisted IVF+PQ index: route
        to the ``nprobe`` nearest cells (centroid_id partition pruning),
        ADC-scan only those cells' PQ codes for a ``shortlist``, then
        re-rank the shortlist EXACTLY by the collection's cosine metric
        against the live float vectors. With nprobe == n_centroids and
        shortlist >= collection size this provably equals exact search.
        Returns (id, payload, score)."""
        import numpy as np

        from vector_database_spark.operators import ann, knn

        meta = self._fresh_meta("ivfpq", "search_ivfpq")
        centroids = np.asarray(meta["centroids"], dtype=float)
        books = np.asarray(meta["codebooks"], dtype=float)
        nprobe = ann._auto_nprobe(nprobe, len(centroids))
        q = np.asarray([float(x) for x in query_vector], dtype=float)
        cnorm = np.linalg.norm(centroids, axis=1) * np.linalg.norm(q)
        sims = centroids @ q / np.where(cnorm == 0, 1.0, cnorm)
        probe = [int(i) for i in np.argsort(-sims)[:nprobe]]
        codes = self._masked_layout_df("ivfpq", meta)
        if shortlist is None:
            shortlist = self._ivfpq_auto_shortlist(meta, nprobe)
        cell_codes = codes.filter(F.col("centroid_id").isin(probe))
        cand = ann.pq_knn(
            cell_codes,
            books,
            [float(x) for x in query_vector],
            k=shortlist,
            id_col="id",
            payload_cols=(),
        ).select("id")
        joined = self.df().select("id", "embedding", "payload").join(
            F.broadcast(cand), "id"
        )
        return knn.knn(
            joined,
            [float(x) for x in query_vector],
            k=limit,
            metric="cosine",
            id_col="id",
            emb_col="embedding",
            payload_cols=("payload",),
        )

    def _ivfpq_auto_shortlist(self, meta: dict, nprobe: int) -> int:
        """The auto re-rank shortlist for ``nprobe`` cells, sized from a
        scanned-code estimate: the layout's parquet footer row count,
        deliberately RAW (unmasked) — footer metadata only, no mask join
        per search; superseded rows inflate it, which only widens the
        shortlist (the scale-safe direction). The count is kept next to
        the layout the caller's ``_masked_layout_df`` just cached for
        ``meta``'s generation, so only the first search of a generation
        lists the layout's files for it."""
        from vector_database_spark.operators import ann

        path = self._index_path("ivfpq")
        generation, layout, raw_codes = self.catalog._layouts[path]
        if raw_codes is None:
            raw_codes = self.catalog.spark.read.parquet(path).count()
            self.catalog._layouts[path] = (generation, layout, raw_codes)
        return ann._auto_shortlist(
            None, int(raw_codes * nprobe / max(len(meta["centroids"]), 1))
        )

    def search_ivfpq_batch(
        self,
        queries: list[tuple[int, list[float]]],
        limit: int = 5,
        nprobe: int | None = None,
        shortlist: int | None = None,
    ) -> DataFrame:
        """Batch search over the persisted IVF+PQ index: ONE code scan of
        the union of every query's probe cells, each broadcast (query,
        cell) row carrying the query's own ADC lookup table (operators/
        ann.py::ivfpq_knn_batch); per-query shortlists re-rank exactly by
        the collection's cosine metric. Row-identical to per-query
        :meth:`search_ivfpq`. Same staleness contract. Returns (qid, id,
        payload, score)."""
        import numpy as np

        from vector_database_spark.operators import ann

        meta = self._fresh_meta("ivfpq", "search_ivfpq_batch")
        centroids = np.asarray(meta["centroids"], dtype=float)
        codes = self._masked_layout_df("ivfpq", meta)
        if shortlist is None:
            # mirror the single-query sizing (r10 fix, extended to the
            # batch path per ADVICE r10): ivfpq_knn_batch's own auto-
            # shortlist would count() the MASKED multi-segment layout —
            # a mask join per batch call
            nprobe = ann._auto_nprobe(nprobe, len(centroids))
            shortlist = self._ivfpq_auto_shortlist(meta, nprobe)
        return ann.ivfpq_knn_batch(
            codes,
            centroids,
            np.asarray(meta["codebooks"], dtype=float),
            self.df().select("id", "embedding", "payload"),
            queries,
            k=limit,
            nprobe=nprobe,
            shortlist=shortlist,
            id_col="id",
            emb_col="embedding",
            payload_cols=("payload",),
            rerank_metric="cosine",
        )

    # -- multi-table LSH index (signatures at ingest) -----------------------
    def build_lsh_index(self, bits: int | None = None, tables: int = 4) -> None:
        """Materialize the multi-table LSH index for the CURRENT live
        state (operators/ann.py::lsh_write_partitioned): one row copy per
        table partitioned by (table, sig), so a query's probe set becomes
        partition pruning. ``bits=None`` (the default since round 7)
        derives the layout width from the live row count —
        ``ceil(log2(N / 4096))`` clamped to [6, 16]
        (operators/ann.py::_auto_lsh_bits) — so bucket/partition sizes
        stay bounded as the collection grows instead of N/64; the chosen
        value persists in the index meta, which every ``search_lsh*``
        reads, so probes always match the layout. An explicit int pins
        it. Same staleness contract as the NSW index: the
        pinned collection version is checked at search time and a later
        write raises until rebuild. Cosine only (random-hyperplane LSH
        approximates the angular metric)."""
        from vector_database_spark.operators import ann

        if self.info.metric != "cosine":
            raise ValueError(
                f"build_lsh_index requires a cosine collection; "
                f"{self.info.name!r} uses metric={self.info.metric!r}"
            )
        self._require_points("build_lsh_index")
        current_version = self.catalog._load()[self.info.name]["version"]
        bits_arg = bits  # caller intent (None = auto), persisted for rebuilds
        if bits is None:
            # layout width from the live size (footer-count upper bound —
            # an overestimate can only widen the layout, never shrink it)
            bits = ann._auto_lsh_bits(self._approx_live_rows())
        emb = self.df().select("id", "embedding", "payload")
        # __seg 0 = the base build; refresh_lsh_index appends later write
        # deltas as __seg 1, 2, ... hashed with the SAME seeded hyperplanes
        # (pinned by (bits, tables) — deterministic), with a superseded-id
        # mask beside the layout (the IVF segment+mask design, r8
        # directive 4)
        ann.lsh_long_form(
            emb,
            dim=self.info.dim,
            bits=bits,
            tables=tables,
            id_col="id",
            emb_col="embedding",
            payload_cols=("payload",),
        ).withColumn("__seg", F.lit(0)).repartition("table", "sig").write.mode(
            "overwrite"
        ).partitionBy("table", "sig").parquet(self._index_path("lsh"))
        import shutil as _shutil

        _shutil.rmtree(self._mask_path("lsh"), ignore_errors=True)
        self.catalog._write_index_meta(
            self._index_path("lsh"),
            {
                "built_at_version": current_version,
                "covers_version": current_version,
                "next_seg": 1,
                "bits": bits,
                "tables": tables,
                "build_params": {"bits": bits_arg, "tables": tables},
            },
        )

    def refresh_lsh_index(self) -> int:
        """INCREMENTALLY fold the writes since the last build/refresh into
        the persisted LSH index — the LSH twin of :meth:`refresh_ivf_index`
        (r8 directive 4). The hyperplanes are a pure function of the
        pinned (bits, tables) layout (seeded — operators/ann.py::
        _hyperplanes), so delta rows hash into exactly the buckets probes
        will look in; they append as a new ``__seg`` under their
        (table, sig) partitions and every written-or-deleted id gets a
        (id, seg) mask row. ``_masked_layout_df`` resolves segments at search
        exactly like the IVF layout. Unlike IVF there is no centroid-drift
        caveat: the hyperplanes never depended on the data, so a refreshed
        LSH index has the SAME recall properties as a rebuild at the same
        bits — only the bucket-size balance drifts as N outgrows the
        chosen width (rebuild when _auto_lsh_bits(N) would pick more
        bits). Returns the number of delta rows appended (counting the
        ``tables``× copies); 0 when already covered."""
        from vector_database_spark.operators import ann

        def build_delta(live: DataFrame, meta: dict, seg: int) -> DataFrame:
            # lsh_long_form has been a single posexplode pass since r11
            # (no per-table re-execution of the input); the protocol
            # still hands us `live` pinned, which keeps the one
            # signature-UDF pass reading a checkpoint instead of the
            # full upstream plan
            return ann.lsh_long_form(
                live,
                dim=self.info.dim,
                bits=int(meta["bits"]),
                tables=int(meta["tables"]),
                id_col="id",
                emb_col="embedding",
                payload_cols=("payload",),
            ).withColumn("__seg", F.lit(seg))

        return self._refresh_protocol("lsh", build_delta)

    def search_lsh(
        self, query_vector: list[float], limit: int = 5, max_hamming: int = 1
    ) -> DataFrame:
        """Approximate cosine top-k over the persisted LSH index: the
        per-table probe buckets are PARTITION predicates (only probed
        directories are listed), candidates dedupe by id and re-rank with
        exact cosine. Raises if no index exists or the collection has been
        written past what the index COVERS (a refresh_lsh_index advances
        coverage without a rebuild). Returns (id, payload, score)."""
        from vector_database_spark.operators import ann

        meta = self._fresh_meta("lsh", "search_lsh")
        return ann.lsh_knn_pruned_df(
            self._masked_layout_df("lsh", meta),
            [float(x) for x in query_vector],
            k=limit,
            bits=meta["bits"],
            tables=meta["tables"],
            max_hamming=max_hamming,
            id_col="id",
            emb_col="embedding",
            payload_cols=("payload",),
        )

    def index_status(self) -> dict[str, dict]:
        """Freshness of every persisted ANN index of this collection:
        ``{kind: {"exists", "built_at_version", "fresh", "layout_cached"}}``.
        An index is fresh iff it COVERS the collection's current version —
        the pinned build version, or (IVF) a later refresh_ivf_index
        coverage (the same contract each ``search_<kind>`` enforces by
        raising). ``layout_cached`` is True when this catalog handle holds
        the index's resolved layout for the current meta generation, so
        the next search skips the file listing."""
        current = self.catalog._load()[self.info.name]["version"]
        out: dict[str, dict] = {}
        for kind in self._INDEX_KINDS:
            meta = self._index_meta(kind)
            if meta is None:
                out[kind] = {
                    "exists": False,
                    "built_at_version": None,
                    "fresh": False,
                    "layout_cached": False,
                }
                continue
            cached = self.catalog._layouts.get(self._index_path(kind))
            entry = {
                "exists": True,
                "built_at_version": meta["built_at_version"],
                "fresh": meta["covers_version"] == current,
                # a search would reuse the resolved layout relation
                # instead of re-listing the index's files
                "layout_cached": cached is not None
                and cached[0] == meta["generation"],
            }
            if kind in ("ivf", "ivfpq"):
                # drift ratio of everything refreshed since the last full
                # build vs the build distribution — centroid-assign
                # distance for IVF (r9), ADC reconstruction error for
                # IVFPQ (r10); None = unmeasurable (no refreshes yet).
                # optimize() escalates refresh->rebuild
                # past IVF_DRIFT_REBUILD_RATIO — but only on a
                # non-trivial refreshed volume (drift_rows vs the
                # _ivf_drift_volume_ok floor, r9 review); the ratio
                # itself is unconditional monitoring.
                entry["drift_ratio"] = _ivf_drift_ratio(meta)
                entry["drift_rows"] = sum(
                    s["rows"] for s in (meta.get("refresh_stats") or [])
                )
            if kind == "nsw":
                # churn fraction vs the base graph (r10): optimize()
                # consolidates past NSW_DELTA_REBUILD_FRACTION
                entry["delta_rows"] = sum(
                    s["rows"] for s in meta.get("refresh_stats", [])
                )
                entry["delta_fraction"] = _nsw_churn(meta) / meta["build_rows"]
            out[kind] = entry
        return out

    def route_for_search(self) -> str:
        """Which physical search ``search_auto`` will run RIGHT NOW: the
        highest-recall FRESH index ("nsw" > "lsh" > "ivf" > "ivfpq", the
        bench-measured recall order), else "exact". Non-cosine collections
        always route exact (every index family approximates the angular
        metric)."""
        if self.info.metric != "cosine":
            return "exact"
        status = self.index_status()
        for kind in self._INDEX_KINDS:
            if status[kind]["fresh"]:
                return kind
        return "exact"

    def search_auto(self, query_vector: list[float], limit: int = 5) -> DataFrame:
        """Top-k with AUTOMATIC physical routing: serve from the best fresh
        ANN index and fall back to the exact TakeOrdered scan when no index
        matches the current version.

        This is the implicit dispatch a vector-DB *server* performs — the
        reference client just calls ``search`` (vector_db_query.py:78-89)
        and Qdrant serves it from HNSW whenever the index exists
        (compose.yaml:2-12); here the routing decision is explicit,
        inspectable (``route_for_search``), and version-safe: a write since
        the last index build silently degrades to the exact scan instead of
        serving stale results — the opposite failure mode of raising, which
        ``search_<kind>`` keeps for callers who picked their index
        deliberately. Returns (id, score) uniformly across routes."""
        route = self.route_for_search()
        if route == "exact":
            out = self.search(query_vector, limit=limit, with_payload=False)
        else:
            out = getattr(self, f"search_{route}")(query_vector, limit=limit)
        return out.select("id", "score")

    def search_auto_batch(
        self, queries: list[tuple[int, list[float]]], limit: int = 5
    ) -> DataFrame:
        """Batch twin of :meth:`search_auto`: N query vectors, top-k each,
        with automatic physical routing. A FRESH NSW index serves the whole
        batch in one pass (the persisted-graph beam search is batch-native
        — one bucket scan answers every query); a fresh IVF index serves it
        via probe-set UNIONING (:meth:`search_lsh_batch` /
        :meth:`search_ivf_batch` — one scan of the union of all queries'
        buckets/cells, map-side per-query probe filters), in the same
        recall priority as single-query routing (nsw > lsh > ivf > ivfpq;
        ivfpq batches carry per-query ADC lookup tables on the broadcast
        rows); otherwise the exact adaptive batch plan runs
        (:meth:`search_batch`, window vs two-phase by size). Returns
        (qid, id, score). Routes through :meth:`route_for_search`, so
        single and batch queries always pick the same index."""
        route = self.route_for_search()
        if route == "exact":
            out = self.search_batch(queries, limit=limit)
        elif route == "nsw":
            from vector_database_spark.operators import ann

            out = ann.nsw_search_layout(
                self._masked_layout_df(
                    "nsw", self._fresh_meta("nsw", "search_auto_batch")
                ),
                [(int(i), [float(x) for x in v]) for i, v in queries],
                k=limit,
                id_col="id",
                emb_col="embedding",
            )
        else:
            out = getattr(self, f"search_{route}_batch")(queries, limit=limit)
        return out.select("qid", "id", "score")

    def search_lsh_batch(
        self,
        queries: list[tuple[int, list[float]]],
        limit: int = 5,
        max_hamming: int = 1,
    ) -> DataFrame:
        """Batch search over the persisted LSH index: ONE scan of the
        union of every query's probe buckets (operators/ann.py::
        lsh_knn_batch_df), map-side per-query probe filtering, row-identical
        to per-query :meth:`search_lsh`. Same coverage contract (build or
        refresh). Returns (qid, id, payload, score)."""
        from vector_database_spark.operators import ann

        meta = self._fresh_meta("lsh", "search_lsh_batch")
        return ann.lsh_knn_batch_df(
            self._masked_layout_df("lsh", meta),
            queries,
            k=limit,
            bits=meta["bits"],
            tables=meta["tables"],
            max_hamming=max_hamming,
            id_col="id",
            emb_col="embedding",
            payload_cols=("payload",),
        )

    def search(
        self,
        query_vector: list[float],
        limit: int = 5,
        metric: str | None = None,
        payload_filter=None,
        tenant: str | None = None,
        with_payload: bool = True,
        with_vector: bool = False,
    ) -> DataFrame:
        """B1/B4/B6: top-k by the collection metric with optional payload
        pre-filter (filter *before* scoring — filtered k-NN).

        ``tenant`` scopes the search to one tenant of a multitenant
        collection; the predicate lands on the partition column, so the
        scan prunes to that tenant's directories (PartitionFilters in the
        plan — asserted in tests/test_catalog.py).

        Returns columns (id, score, payload) ordered by score (best first,
        id tie-break), exactly the reference result shape
        (vector_db_query.py:85-86).
        """
        metric = metric or self.info.metric
        if tenant is not None and self.info.tenant_key is None:
            raise ValueError(
                f"collection {self.info.name!r} is not multitenant; "
                "create it with tenant_key= to scope searches by tenant"
            )
        df = self._resolved_df(tenant=tenant).drop("bucket", "tenant")
        if payload_filter is not None:
            df = df.filter(payload_filter)
        q = F.array(*[F.lit(float(x)) for x in query_vector]).cast("array<double>")
        if metric in ("cosine", "dot"):
            # stored-norm cosine (non-positive legacy norms score NULL and
            # sort last instead of NaN-first) or plain dot — the shared
            # expression scored recommends also use (_sim_expr)
            score = self._sim_expr(metric, query_vector)
            asc = False
        elif metric == "euclid":
            score = round6(l2_dist(F.col("embedding"), q))
            asc = True
        elif metric == "manhattan":
            score = round6(l1_dist(F.col("embedding"), q))
            asc = True
        else:  # pragma: no cover
            raise ValueError(f"unknown metric {metric!r}")
        # Qdrant with_payload / with_vectors projection flags: dropping a
        # column here prunes it out of the Parquet scan entirely (vectors
        # are the wide column — a payload-only search never reads them
        # past scoring)
        proj = ["id", score.alias("score")]
        if with_payload:
            proj.append(F.col("payload"))
        if with_vector:
            proj.append(F.col("embedding"))
        scored = df.select(*proj)
        order = [F.col("score").asc() if asc else F.col("score").desc(), F.col("id").asc()]
        # orderBy+limit compiles to TakeOrderedAndProject: per-partition
        # partial top-k then a k*P merge on the driver — no global sort,
        # scales to arbitrarily large collections.
        return scored.orderBy(*order).limit(limit)

    def _point_vectors(self, point_ids: list[int]) -> dict[int, list[float]]:
        """Bounded point-vector lookup (|ids| rows collected — the same
        data movement Qdrant's server does to resolve id-form queries)."""
        ids = [int(i) for i in point_ids]
        rows = {
            r["id"]: [float(x) for x in r["embedding"]]
            for r in self.df()
            .filter(F.col("id").isin(ids))
            .select("id", "embedding")
            .collect()
        }
        missing = [i for i in ids if i not in rows]
        if missing:
            raise KeyError(f"query points not found: {missing}")
        return rows

    def query_points(
        self,
        query=None,
        *,
        prefetch: "list[dict] | None" = None,
        limit: int = 10,
        payload_filter=None,
        with_payload: bool = True,
        with_vector: bool = False,
        sample_seed: int = 404,
    ) -> DataFrame:
        """Qdrant 1.10+ universal Query API (client.query_points): ONE
        endpoint dispatching every retrieval mode by query form —
        the facade modern Qdrant clients use for everything.

        ``query`` forms:
          * ``None``                  → scroll page (id-ordered)
          * ``list[float]``           → nearest by the collection metric
          * ``int``                   → nearest to that stored point
                                        (the point itself excluded)
          * ``{"recommend": {...}}``  → recommend (positive/negative ids)
          * ``{"discover": {...}}``   → discovery (target + context pairs)
          * ``{"context": [...]}``    → context search (targetless pairs)
          * ``{"sample": "random"}``  → seeded reproducible random draw
          * ``{"fusion": "rrf"|"dbsf"}`` → fuse ``prefetch`` leg results

        ``prefetch``: list of sub-query dicts (same kwargs minus prefetch;
        one nesting level, like Qdrant). With a fusion query the legs are
        rank- (RRF) or z-score- (DBSF) fused — ``payload_filter`` is
        pushed into every leg (Qdrant filters prefetch legs the same
        way), fused rows are (id, fused_score[, payload]). With any
        OTHER query form the legs form a candidate pool and the query
        runs in its normal mode restricted to that pool — vector/id
        rerank (the multi-stage shape of q_prefetch_rerank, id queries
        excluding themselves) as well as recommend / discover / context /
        sample over prefetch, as Qdrant permits. Candidate pools are
        bounded by Σ leg limits, so collecting their ids is O(k), never
        O(collection).
        """
        if prefetch:
            # validate the (query, prefetch) combination BEFORE computing
            # any leg — failing late would waste every executed leg. Any
            # non-fusion query form reranks the prefetch pool (Qdrant
            # permits recommend/discover/context/sample over prefetch);
            # only a missing query has no defined rerank semantics.
            _known_dict = ("fusion", "recommend", "discover", "context", "sample")

            def _dict_query_ok(q) -> bool:
                # shape-check the payload too, not just key presence —
                # a malformed form must fail HERE, not after the legs ran
                if not isinstance(q, dict):
                    return False
                if "fusion" in q:
                    return q["fusion"] in ("rrf", "dbsf")
                if "recommend" in q:
                    # at least one NON-EMPTY exemplar side, mirroring the
                    # discover target/context check — key presence alone
                    # ({"positive": []}) would execute every prefetch leg
                    # and only then die inside recommend()
                    return isinstance(q["recommend"], dict) and any(
                        q["recommend"].get(side) for side in ("positive", "negative")
                    )
                if "discover" in q:
                    return isinstance(q["discover"], dict) and {
                        "target", "context"
                    } <= set(q["discover"])
                if "context" in q:
                    return isinstance(q["context"], (list, tuple)) and bool(q["context"])
                if "sample" in q:
                    return q["sample"] == "random"
                return False

            if not (isinstance(query, (int, list, tuple)) or _dict_query_ok(query)):
                raise ValueError(
                    "query_points with prefetch needs a top-level query to "
                    "rerank the pool: a vector, a point id, or a well-formed "
                    f"{_known_dict} dict; got {query!r}."
                )
            legs = [
                self.query_points(
                    **{
                        "limit": 20,
                        "payload_filter": payload_filter,
                        **p,
                        "with_payload": False,
                        "with_vector": False,
                    }
                )
                for p in prefetch
            ]
            if isinstance(query, dict) and "fusion" in query:
                fused = self._fuse_legs(legs, query["fusion"], limit)
                if with_payload:
                    fused = fused.join(
                        self.df().select("id", "payload"), "id", "left"
                    ).orderBy(F.col("fused_score").desc(), F.col("id").asc())
                return fused
            cand_ids = sorted(
                {int(r["id"]) for leg in legs for r in leg.select("id").collect()}
            )
            pool = F.col("id").isin(cand_ids)
            flt = pool if payload_filter is None else (pool & payload_filter)
            # Recurse WITHOUT prefetch: the top-level query runs in its
            # normal mode restricted to the bounded candidate pool — this
            # is exactly Qdrant's semantics (prefetch narrows, the query
            # rescores), and it covers vector/id rerank AND
            # recommend/discover/context/sample over prefetch with the
            # mode's own exclusion rules (id self-exclusion, example-point
            # exclusion) applied by the mode itself.
            return self.query_points(
                query,
                limit=limit,
                payload_filter=flt,
                with_payload=with_payload,
                with_vector=with_vector,
                sample_seed=sample_seed,
            )
        if query is None:
            return self.scroll(limit=limit, payload_filter=payload_filter)
        if isinstance(query, int):
            qv = self._point_vectors([query])[int(query)]
            flt = F.col("id") != int(query)
            if payload_filter is not None:
                flt = flt & payload_filter
            return self.search(
                qv, limit=limit, payload_filter=flt,
                with_payload=with_payload, with_vector=with_vector,
            )
        if isinstance(query, (list, tuple)):
            return self.search(
                list(query), limit=limit, payload_filter=payload_filter,
                with_payload=with_payload, with_vector=with_vector,
            )
        if isinstance(query, dict):
            if "recommend" in query:
                kw = dict(query["recommend"])
                return self.recommend(
                    kw.pop("positive", None),
                    kw.pop("negative", None),
                    limit=limit,
                    payload_filter=payload_filter,
                    **kw,
                )
            if "discover" in query:
                kw = dict(query["discover"])
                return self.discover(
                    kw.pop("target"),
                    kw.pop("context"),
                    limit=limit,
                    payload_filter=payload_filter,
                )
            if "context" in query:
                from vector_database_spark.operators.knn import context_search

                pairs = [
                    (int(p["positive"]), int(p["negative"]))
                    for p in query["context"]
                ]
                ex_ids = sorted({i for pair in pairs for i in pair})
                rows = self._point_vectors(ex_ids)
                vec_pairs = [(rows[p], rows[n]) for p, n in pairs]
                flt = ~F.col("id").isin(ex_ids)
                if payload_filter is not None:
                    flt = flt & payload_filter
                return context_search(
                    self.df().drop("norm", "version"),
                    vec_pairs,
                    k=limit,
                    id_col="id",
                    payload_cols=("payload",) if with_payload else (),
                    pre_filter=flt,
                )
            if query.get("sample") == "random":
                from vector_database_spark.functions.hashing import seeded_hash

                df = self.df()
                if payload_filter is not None:
                    df = df.filter(payload_filter)
                key = seeded_hash(F.col("id").cast("string"), sample_seed)
                cols = ["id"] + (["payload"] if with_payload else [])
                return (
                    df.select(*cols, key.alias("__k"))
                    .orderBy(F.col("__k").asc(), F.col("id").asc())
                    .limit(limit)
                    .drop("__k")
                )
        raise ValueError(f"unsupported query form: {query!r}")

    def _fuse_legs(self, legs: list[DataFrame], method: str, limit: int) -> DataFrame:
        """RRF / DBSF fusion over prefetch leg results (Qdrant Fusion enum).
        Legs are ≤ tens of rows each (bounded by their limits), so the
        windowed rank/moment math is driver-scale regardless of
        collection size. Score direction follows the collection metric:
        for distance metrics (euclid/manhattan) SMALLER scores are
        better, so ranks sort ascending and the DBSF z-normalization is
        sign-flipped — otherwise fusion would reward the FARTHEST
        points."""
        if method not in ("rrf", "dbsf"):  # pragma: no cover
            raise ValueError(f"unknown fusion {method!r}")
        distance_metric = self.info.metric in ("euclid", "manhattan")
        parts = []
        for i, leg in enumerate(legs):
            order = F.col("score").asc() if distance_metric else F.col("score").desc()
            w = Window.orderBy(order, F.col("id").asc())
            parts.append(
                leg.select("id", "score").withColumn(
                    "rank", F.row_number().over(w)
                ).withColumn("leg", F.lit(i))
            )
        allp = parts[0]
        for p in parts[1:]:
            allp = allp.unionAll(p)
        if method == "rrf":
            contrib = 1.0 / (F.lit(60.0) + F.col("rank"))
        else:
            moments = Window.partitionBy("leg")
            mu = F.avg("score").over(moments)
            sd = F.stddev_pop("score").over(moments)
            if distance_metric:
                normalized = ((mu + 3 * sd) - F.col("score")) / (6 * sd)
            else:
                normalized = (F.col("score") - (mu - 3 * sd)) / (6 * sd)
            contrib = F.when(sd > 0, normalized).otherwise(F.lit(0.5))
        return (
            allp.withColumn("contrib", contrib)
            .groupBy("id")
            .agg(F.sum("contrib").alias("fused_score"))
            .orderBy(F.col("fused_score").desc(), F.col("id").asc())
            .limit(limit)
        )


def latest_wins(df: DataFrame, id_col: str = "id", version_col: str = "version") -> DataFrame:
    """Resolve multi-version rows to the latest version per id (SURVEY A3).

    ``row_number() OVER (PARTITION BY id ORDER BY version DESC) = 1`` — the
    oracle twin is DuckDB QUALIFY. The executed plan hash-partitions whole
    rows on the id key (``Exchange hashpartitioning(id)``) before the
    window: the ``bucket`` partition column of a collection does not spare
    that shuffle, since Spark does not know the files are id-bucketed; it
    buys point-lookup pruning (``VectorCollection.get``) only.
    """
    w = Window.partitionBy(id_col).orderBy(F.col(version_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
