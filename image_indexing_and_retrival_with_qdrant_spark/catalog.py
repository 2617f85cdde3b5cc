"""Collection catalog (SURVEY.md §1.1, §2.1 S7–S9).

A *collection* is the reference's unit of storage: a named set of
points with a declared vector configuration
(``client.create_collection(vectors_config=...)``,
``incremental_indexing_colpali_with_qdrant.py:116-141``). Here a
collection is a parquet table at ``<root>/<name>`` plus a JSON
sidecar holding the vector config (dim, metric, comparator,
normalize-at-write) — the table-properties analog.

Write modes (SURVEY.md §1.4):
- ``append`` — reproduces reference behavior exactly: every upsert
  adds rows, re-indexing duplicates points (fresh ``uuid4`` ids,
  ``incremental_indexing_colpali_with_qdrant.py:258``).
- ``merge`` — the honest upsert with Qdrant's overwrite-by-id
  semantics: an incoming id that already exists *replaces* the stored
  row (re-indexing a modified file refreshes its vector/payload).
  When no id collides (the common content-keyed case) this is a plain
  append; on conflict the table is rewritten minus the superseded
  rows. With Delta/Iceberg on the classpath this becomes MERGE INTO
  (file-level rewrite); the plain-parquet fallback rewrites the
  table, which is the correct-but-heavier shape.

For COSINE collections vectors are L2-normalized at write
(``normalize=True``), so query-time scoring is a plain dot product —
Qdrant does exactly this server-side for ``Distance.COSINE``. Query
vectors are normalized the same way at search time (Qdrant normalizes
the query server-side too), so ``score_threshold`` filters on true
cosine, not a scaled dot product.

Multivector collections store vectors **flat**: ``array<double>`` of
length ``n_vecs × dim`` plus an ``n_vecs`` column. The dim is always
declared (S7), reshape is free in numpy, and the Arrow transfer of a
flat array is several times cheaper than ``array<array<double>>`` —
this is the high-throughput MaxSim path (SCALE.md). ``upsert``
accepts nested input and flattens; ``search`` reads either layout.

Auto-indexing (``indexing_threshold``): Qdrant defers ANN-index build
until a collection passes a configured point count
(``incremental_indexing_colpali_with_qdrant.py:132``). The analog here
is an IVF layout: the first upsert that crosses the threshold trains a
KMeans coarse quantizer on the bounded id-ordered prefix and writes a
copy of the table ``partitionBy(centroid_id)`` next to it; later
upserts *incrementally* assign only the incoming points with the
existing centroids (a codegen projection — no retrain, mirroring
Qdrant's incremental indexing) and append to the layout. ``search``
then routes dense queries through the layout: the nprobe nearest
centroids are picked driver-side (the centroid table is tiny) and the
corpus scan becomes a literal ``centroid_id IN (...)`` filter —
statically partition-pruned, reading ``nprobe/k_centroids`` of the
data. ``nprobe = k_centroids`` (the default) is exhaustive probing ≡
the exact scan, so routed search stays oracle-checkable; callers opt
into approximation by passing a smaller ``nprobe``.

Multivector collections index the same way, with one twist: the
coarse quantizer sees each point's **mean-pooled** flat multivector
(one dim-length routing vector per point — the coarse stage of a
PLAID-style late-interaction index), queries route on the mean-pooled
query vectors, and exact MaxSim scores the probed cells.
"""

from __future__ import annotations

import functools
import json
import math
import os
import shutil
from dataclasses import replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, NumericType, TimestampType

from .filters import as_predicate
from .functions.localframe import literal_in, local_literal_df
from .functions.vector import as_double, l2_normalize, mean_pool_flat
from .operators.ann import nearest_cells, nearest_np
from .operators.quant import quantizer
from .operators.topk import order_cols, top_groups
from .search_plan import SearchKnobs, SearchPlan, overlay_recall, plan_search
from .tables import _read_cached

__all__ = ["Collection", "Prefetch", "create_collection",
           "collection_exists", "list_aliases", "update_aliases",
           "resolve_collection"]


def _unit(v: list[float]) -> list[float]:
    """Driver-side L2 normalization, bit-matching the write path's
    ``l2_normalize`` (left-to-right double sum, sqrt, divide)."""
    n = math.sqrt(sum(x * x for x in v))
    return v if n == 0.0 else [x / n for x in v]


def _compose(pos: list, neg: list):
    """Recommend's average_vector query ``avg(pos) − avg(neg)`` over
    dense float lists, or over sparse ``{index: value}`` dicts (index
    union, returned as the ``(indices, values)`` sparse query)."""
    def avg(vs):
        if isinstance(vs[0], dict):
            return {i: sum(v[i] for v in vs if i in v) / len(vs)
                    for i in {i for v in vs for i in v}}
        return [sum(c) / len(vs) for c in zip(*vs)]

    q, n = avg(pos), avg(neg) if neg else None
    if not isinstance(q, dict):
        return q if n is None else [a - b for a, b in zip(q, n)]
    if n is not None:
        q = {i: q.get(i, 0.0) - n.get(i, 0.0) for i in {*q, *n}}
    items = sorted(q.items())
    return [i for i, _ in items], [v for _, v in items]


def _excluding(query_filter, id_col: str, ids: list) -> Column | None:
    """``query_filter`` AND NOT ``id IN ids`` (no ids: the filter as
    is) — the example exclusion of recommend and query-by-id."""
    qf = as_predicate(query_filter)
    if not ids:
        return qf
    excl = ~literal_in(id_col, ids)
    return excl if qf is None else qf & excl


# Partitioned-sidecar listing: Spark turns file listing into a
# distributed JOB once a discovery round sees more paths than
# spark.sql.sources.parallelPartitionDiscovery.threshold (default 32).
# Cell/chunk-partitioned sidecars (ivf points, codes, graphs) cross 32
# dirs routinely, so every fresh read paid a 100-task listing job —
# pure scheduling overhead on a local filesystem (measured: the
# segmented-HNSW lifecycle spent 3-8 s in one 107-task listing job;
# driver-side listing of the same dirs is ms). Guide §6 "file listing".
# Parameterised: on object-store deployments with very wide partition
# fan-out, set SPARK_GRAFT_LIST_THRESHOLD=32 to restore distributed
# listing — the bench-visible default favours the local/attached-disk
# layout where the driver lists faster than a job schedules.
_LIST_THRESHOLD = os.environ.get("SPARK_GRAFT_LIST_THRESHOLD", "512")


# A point op's file-scoped rewrite goes table-wide when its match
# touches this share of the data files, or more files than one
# ``__file IN (...)`` literal should carry (Collection._scoped_rewrite).
_SCOPED_FULL_FRACTION = 0.8
_SCOPED_MAX_FILES = 10_000


def _query_frame(spark: SparkSession, vecs: list,
                 vec_col: str = "query_vec") -> DataFrame:
    """A batch's broadcast query side: one ``(query_idx, vec_col)`` row
    per query vector."""
    return local_literal_df(
        spark, [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        f"query_idx int, {vec_col} array<double>")


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`tables._read_cached` (footer/schema inference cached across
    reads of an unchanged directory) with driver-side partition
    discovery pinned (see _LIST_THRESHOLD above). Runtime conf, set per
    call: builders run under a driver-owned session (CLAUDE.md
    invariant), so the conf cannot live in a session factory."""
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold",
        _LIST_THRESHOLD)
    return _read_cached(spark, path)


def _space_columns(cfg: dict) -> tuple[str, str, str]:
    """A dense space's columns (``cfg`` from ``_vector_cfg``): the
    vectors, the subvector-count sidecar (``n_vecs`` / ``<name>__nv``)
    and the pooled stage-1 sidecar."""
    return cfg["vec_col"], cfg["nv_col"], cfg["vec_col"] + "__pooled"


def _is_nested(df: DataFrame, col: str) -> bool:
    t = df.schema[col].dataType
    return isinstance(t, ArrayType) and isinstance(t.elementType, ArrayType)


def _concurrent_branches(fn, items: list) -> list:
    """Evaluate independent query branches from a small thread pool
    (guide §2.6 — overlap independent jobs). A prefetch/fusion branch
    is built by a chain of driver-blocking round trips (shortlist
    collects, probe unions, plan analysis), so N sequential branches
    pay N × that fixed latency; Spark's scheduler happily overlaps
    jobs submitted from several threads, and branch results are
    independent by construction (each is its own space's retrieval).
    List order is preserved, so fusion sees branches exactly as the
    sequential loop produced them. Single-branch calls stay inline —
    no pool, no wrapper, byte-identical stack traces."""
    if len(items) <= 1:
        return [fn(x) for x in items]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=min(4, len(items))) as pool:
        return list(pool.map(inheritable_thread_target(fn), items))


class Prefetch:
    """One branch of the universal query API (Qdrant ``Prefetch``):
    a query vector (dense list or multivector list-of-lists) against a
    vector space, truncated to ``limit`` before fusion.

    ``prefetch=`` nests (Qdrant's multi-stage retrieval): the inner
    prefetch(es) retrieve candidates, and THIS branch's query rescores
    only their union — e.g. a matryoshka head-dims coarse stage under
    a full-dims rescore, or a dense stage under a MaxSim rescore."""

    def __init__(self, query, using: str | None = None, limit: int = 20,
                 query_filter=None, prefetch=None):
        self.query = query
        self.using = using
        self.limit = limit
        self.query_filter = query_filter
        if prefetch is not None and isinstance(prefetch, Prefetch):
            prefetch = [prefetch]
        self.prefetch = prefetch


class RecommendQuery:
    """Top-level ``query=`` object for the universal API (Qdrant
    ``RecommendQuery``): re-rank the prefetch candidates by recommend
    score (``average_vector`` or ``best_score``); without prefetch,
    identical to :meth:`Collection.recommend`. Example points are
    excluded from the results, as in the dedicated endpoint."""

    def __init__(self, positive: list, negative: list = (),
                 strategy: str = "average_vector"):
        self.positive = list(positive)
        self.negative = list(negative)
        self.strategy = strategy


class DiscoverQuery:
    """Top-level ``query=`` object (Qdrant ``DiscoverQuery``): rank
    prefetch candidates by discovery score — zones satisfied, then
    target similarity (`operators/discover.py`)."""

    def __init__(self, target, context: list):
        self.target = target
        self.context = list(context)


class ContextQuery:
    """Top-level ``query=`` object (Qdrant ``ContextQuery``): rank
    prefetch candidates by context-only score ``sum(min(0,
    s_pos − s_neg))``."""

    def __init__(self, context: list):
        self.context = list(context)


class OrderByQuery:
    """Top-level ``query=`` object (Qdrant ``OrderByQuery``): the
    prefetch candidates are returned ordered by a payload field
    (``order_value`` attached), id as tie-break — the query-API form
    of ``scroll(order_by=...)``. ``start_from`` bounds the field value
    (inclusive), exactly like the scroll analog."""

    def __init__(self, key: str, desc: bool = False, start_from=None):
        self.key = key
        self.desc = desc
        self.start_from = start_from


class SampleQuery:
    """Top-level ``query=`` object (Qdrant ``SampleQuery(random)``).
    Qdrant samples uniformly at random; the engine's reproducible
    analog ranks by a seeded content hash ``md5(id || seed)`` —
    deterministic, uniform over ids, and re-derivable by the DuckDB
    oracle (``search_matrix`` and ``sample`` rank by their own
    unseeded ``hash64`` of a prefixed id instead)."""

    def __init__(self, seed: int = 42):
        self.seed = int(seed)


#: query= objects the universal API dispatches on (everything except a
#: raw vector / multivector).
_QUERY_OBJECTS = (RecommendQuery, DiscoverQuery, ContextQuery,
                  OrderByQuery, SampleQuery)

#: payload field types an ``OrderByQuery`` ranks (Qdrant's order_by
#: takes numeric and datetime keys; ``order_value`` is the key as a
#: double, which Spark casts from these types only).
_ORDER_BY_TYPES = (NumericType, TimestampType)


def _drift_verdict(counts: dict, k: int, base: float | None,
                   cell_cap: float, growth_cap: float,
                   split: bool = True) -> dict | None:
    """The drift verdict of one cell layout from its per-cell row
    counts (footer counts — no Spark). ``balance_ratio`` is the max
    cell over the fair share 1/k; a trained layout already sits at
    its natural KMeans imbalance (uniform fixtures train to ~1.5–2.5×
    fair share), so the drift signal is its GROWTH over ``base``, the
    ratio recorded when the cells were trained. ``rebuild`` when the
    growth exceeds ``growth_cap`` (the data moved since training: a
    retrain re-places the cells); else ``split`` when the ratio exceeds
    ``cell_cap`` (the data is dense there and a retrain would park it
    in one cell again: split the hot cells in place) — ``rebuild`` for
    a layout without an in-place split (``split=False``); else None.
    None for a layout without rows."""
    total = sum(counts.values())
    if not total:
        return None
    max_frac = max(counts.values()) / total
    ratio = max_frac * k
    growth = ratio / base if base else None
    action = None
    if growth is not None and growth > growth_cap:
        action = "rebuild"
    elif ratio > cell_cap:
        action = "split" if split else "rebuild"
    verdict = {"cells": len(counts),
               "max_cell_fraction": round(max_frac, 6),
               "balance_ratio": round(ratio, 4),
               "baseline_balance_ratio": base,
               "balance_growth": round(growth, 4) if growth else None,
               "cell_cap": cell_cap, "growth_cap": growth_cap,
               "action": action,
               "rebuild_recommended": action == "rebuild"}
    if split:
        verdict["split_recommended"] = action == "split"
    return verdict


class _Layout:
    """One row of the declared layout table (``Collection._layouts``):
    a layout derived from the point table, for one space.

    - ``kind``: ``cells`` (the IVF points layout: every column, cells
      by ``centroid_id``, centroid table beside it), ``codes`` (a
      space's quantizer codes), ``graphs`` (per-cell HNSW),
      ``postings`` (a sparse space's inverted index and its ``.df``)
      or ``pca`` (a PCA space's projected cells by ``pcell``).
    - ``paths``: its files; the snapshot, restore and delete set.
    - ``source``: the row it derives from, ``(kind, space)``, or None
      for the point table itself; a change to the source re-derives it.
    - ``key``: the partition column (None: unpartitioned).
    - ``state``: the meta keys it owns in ``cfg``, its built marker
      first. Its source changing drops the marker; the layout itself
      being dropped or retrained drops them all.
    - ``gate``: the config key that decides whether it is maintained;
      ``maintained()`` reads that decision off the current meta.
    - ``threshold``: the point count at which a maintained layout is
      due (None: never pending on its own).
    - ``payload``: it copies the payload, so a payload-only write
      refreshes it.
    - ``drift``: its remedy for a skewed verdict — ``split`` (split or
      rebuild), ``rebuild`` (rebuild only) or None (no drift meter).
    - ``write(spark, incoming, id_col, vec_col, rewrote)``: its writer."""

    def __init__(self, kind: str, space: str | None, cfg: dict,
                 paths: list, source, key, state: tuple, gate: str,
                 maintained, threshold=None, payload: bool = False,
                 drift: str | None = None, write=None):
        self.kind, self.space, self.cfg = kind, space, cfg
        self.paths, self.path = paths, paths[0]
        self.source, self.key, self.state = source, key, state
        self.gate, self.maintained = gate, maintained
        self.threshold, self.payload, self.drift = threshold, payload, drift
        self.write, self.baseline = write, state[-1]

    @property
    def id(self) -> tuple:
        return self.kind, self.space

    @property
    def built(self) -> bool:
        return bool(self.cfg.get(self.state[0]))

    @property
    def present(self) -> bool:
        return self.built or any(os.path.exists(p) for p in self.paths)

    def due(self, n: int | None) -> bool:
        return self.threshold is not None and (n or 0) >= self.threshold

    @property
    def k(self) -> int:
        if self.kind == "pca":
            return len(self.cfg.get("pca_centroids") or ()) or 1
        return int(self.cfg.get("index_k")
                   or self.cfg.get("k_centroids") or 16)

    def vec(self, vec_col: str) -> str:
        return self.space or vec_col


class Collection:
    def __init__(self, root: str, name: str):
        self.path = os.path.join(root, name)
        self.meta_path = os.path.join(root, f"{name}.meta.json")
        with open(self.meta_path) as f:
            self.meta = json.load(f)
        self._centroid_cache: list[list[float]] | None = None

    def _save_meta(self) -> None:
        with open(self.meta_path, "w") as f:
            json.dump(self.meta, f)

    @property
    def name(self) -> str:
        return os.path.basename(self.path)

    @property
    def root(self) -> str:
        return os.path.dirname(self.path)

    def info(self, spark: SparkSession | None = None) -> dict:
        """Qdrant ``get_collection`` analog: status + config + counts.
        ``status`` is ``green`` (index current or not required) or
        ``yellow`` (a maintained layout past its threshold but not
        built — the IVF cells, a PCA space, a sparse space's postings,
        the graphs over built cells — or an unexecuted rebuild/split
        drift verdict: Qdrant's optimizing state). ``index_drift`` is
        the IVF cells' verdict; ``pca_drift`` is the PCA space's
        verdict on a single-space collection and ``{space: verdict}``
        over the PCA spaces of a named one (None without one). Config
        echoes the frozen creation meta; counts need a SparkSession
        (omitted → counts are None, the metadata-only form)."""
        cfg = {k: v for k, v in self.meta.items()
               if k not in ("payload_indexes",)}
        # footer-metadata count: Qdrant's get_collection likewise
        # reports points_count from segment metadata, not a scan
        n = self.count(spark, exact=False) if spark is not None else None
        rows = self._layouts()
        drifts = {lay.id: self._layout_drift(lay) for lay in rows
                  if lay.drift}
        pca = {lay.space: drifts[lay.id] for lay in rows
               if lay.kind == "pca" and lay.maintained()}
        status = "yellow" if (
            any(lay.maintained() and not lay.built and lay.due(n)
                for lay in rows)
            or any((v or {}).get("action") for v in drifts.values())) \
            else "green"
        return {
            "status": status,
            "points_count": n,
            "indexed": self.has_index(),
            "hnsw_built": self._has_hnsw(),
            "index_drift": drifts[("cells", None)],
            "pca_drift": (pca or None) if self.meta.get("vectors")
            else drifts[("pca", None)],
            "payload_indexes": list(self.meta.get(
                "payload_indexes") or ()),
            "segments_count": len([f for f in os.listdir(self.path)
                                   if f.endswith(".parquet")])
            if os.path.isdir(self.path) else 0,
            "config": cfg,
        }

    # -- snapshots (Qdrant create_snapshot / recover_snapshot) ------------
    #
    # A snapshot is a byte copy of the collection's full state: the
    # main parquet table, the meta sidecar, and every derived layout
    # (every path of every ``_layouts()`` row) — so a restored
    # collection searches identically, index and all, with no
    # rebuild. Qdrant snapshots are likewise whole-collection tar
    # files (storage + indexes). Parquet files are immutable once
    # written, so at 100 TB the copy is embarrassingly parallel and
    # could be a manifest of file references instead; the
    # directory-copy form here is the local-filesystem rendering of
    # the same idea.

    def _state_paths(self) -> list[str]:
        """Every on-disk path that makes up this collection's state:
        the point table and every layout row's paths."""
        return [p for p in (self.path, *(p for lay in self._layouts()
                                         for p in lay.paths))
                if os.path.exists(p)]

    def _snap_dir(self, name: str) -> str:
        return os.path.join(self.root, "_snapshots", self.name, name)

    def create_snapshot(self, name: str | None = None) -> str:
        """Copy the collection's current state into a named snapshot;
        returns the snapshot name (auto: ``snap-<n>``)."""
        if name is None:
            taken = set(self.list_snapshots())
            n = 0
            while f"snap-{n}" in taken:
                n += 1
            name = f"snap-{n}"
        dst = self._snap_dir(name)
        if os.path.exists(dst):
            raise ValueError(f"snapshot {name!r} already exists")
        os.makedirs(dst)
        with open(os.path.join(dst, "meta.json"), "w") as f:
            json.dump(self.meta, f)
        for p in self._state_paths():
            shutil.copytree(p, os.path.join(dst, os.path.basename(p)))
        return name

    def list_snapshots(self) -> list[str]:
        base = os.path.join(self.root, "_snapshots", self.name)
        return sorted(os.listdir(base)) if os.path.isdir(base) else []

    def delete_snapshot(self, name: str) -> None:
        shutil.rmtree(self._snap_dir(name))

    def restore_snapshot(self, name: str) -> None:
        """Replace the collection's state with the snapshot's (Qdrant
        ``recover_snapshot``): table, meta, and index layouts all roll
        back together, so post-restore searches bit-match the ones
        taken at snapshot time."""
        src = self._snap_dir(name)
        if not os.path.isdir(src):
            raise ValueError(f"unknown snapshot {name!r}")
        for p in self._state_paths():
            shutil.rmtree(p)
        with open(os.path.join(src, "meta.json")) as f:
            self.meta = json.load(f)
        self._save_meta()
        for entry in os.listdir(src):
            if entry != "meta.json":
                shutil.copytree(os.path.join(src, entry),
                                os.path.join(self.root, entry))
        self._centroid_cache = None

    # -- batch update (Qdrant batch_update_points) ------------------------

    def batch_update(self, spark: SparkSession, ops) -> int:
        """Apply an ordered sequence of point operations (Qdrant
        ``batch_update_points``), each ``(kind, *args)`` with the
        method's own arguments after ``spark``: ``("upsert", df)``
        (a merge upsert), ``("delete", predicate)``,
        ``("set_payload" | "overwrite_payload", payload, selector)``,
        ``("delete_payload", keys, selector)``, ``("clear_payload",
        selector)``, ``("update_vectors", df)`` and
        ``("delete_vectors", names, selector)``. Ops run strictly in
        order — later ops see earlier ops' writes, the documented
        Qdrant guarantee. Returns the op count."""
        run = {"upsert": functools.partial(self.upsert, mode="merge"),
               "delete": self.delete, "set_payload": self.set_payload,
               "overwrite_payload": self.overwrite_payload,
               "delete_payload": self.delete_payload,
               "clear_payload": self.clear_payload,
               "update_vectors": self.update_vectors,
               "delete_vectors": self.delete_vectors}
        for kind, *args in ops:
            if kind not in run:
                raise ValueError(f"unknown batch op {kind!r}")
            run[kind](spark, *args)
        return len(ops)

    # -- IVF auto-index (indexing_threshold parity) -----------------------

    @property
    def _ivf_points(self) -> str:
        return self.path + ".ivf"

    @property
    def _ivf_centroids(self) -> str:
        return self.path + ".centroids"

    def has_index(self) -> bool:
        return bool(self.meta.get("index_built"))

    @staticmethod
    def _partition_footer_counts(path: str, key: str) -> dict[int, int]:
        """Per-partition row counts of a ``partitionBy(key)`` layout
        from parquet FOOTERS (no Spark job — same cost model as the
        fast count): walk the directory tree and sum each partition
        directory's footer row counts."""
        import pyarrow.parquet as pq

        counts: dict[int, int] = {}
        prefix = key + "="
        for root_dir, _dirs, files in os.walk(path):
            base = os.path.basename(root_dir)
            if not base.startswith(prefix):
                continue
            cid = int(base.split("=", 1)[1])
            for f in files:
                if f.endswith(".parquet"):
                    counts[cid] = counts.get(cid, 0) + pq.read_metadata(
                        os.path.join(root_dir, f)).num_rows
        return counts

    def _ivf_footer_counts(self) -> dict[int, int]:
        return self._partition_footer_counts(self._ivf_points,
                                             "centroid_id")

    def index_drift(self) -> dict | None:
        """IVF append-drift verdict, answered from parquet footers.

        Why it exists: post-threshold appends are assigned with the
        FROZEN centroids and never retrain (``_refresh_cells``), so a
        distribution-shifted append stream silently skews the cells —
        the hot cell's probe cost grows toward its fraction of the
        corpus, and routed recall decays at the shifted region's
        boundaries (measured: stress.py::ivf_drift_stress, BASELINE.md
        §IVF-drift).

        The verdict (``_drift_verdict``) distinguishes WHY the layout
        is skewed, because the remedies differ (measured end-to-end in
        stress.py::ivf_drift_stress):

        - ``action="rebuild"``: ``balance_ratio`` (max cell / fair
          share) grew past ``drift_growth_cap`` (meta, default 1.5) ×
          the ratio recorded when the cells were trained
          (``index_balance_ratio``) — the distribution moved since
          training; ``rebuild_index()`` re-places the centroids.
        - ``action="split"``: growth within cap but the ratio exceeds
          ``drift_cell_cap`` (meta, default 4.0) — the layout is as
          good as training gets and the data is just DENSE there (at
          10M+1M a retrain still parks a tight 9 % blob in one cell);
          ``split_hot_cells()`` re-trains only the hot cells in place.
        - ``action=None``: healthy.

        Returns None when no IVF layout exists."""
        return self._layout_drift(self._row("cells"))

    def pca_drift(self, space: str | None = None) -> dict | None:
        """``index_drift()``'s verdict for a PCA-transformed space's
        ``pcell`` cells (the same cell layout: appends project and
        assign with the FROZEN (mu, W, centroids) and never retrain,
        so a shifted append stream skews the compressed cells the way
        it skews the raw IVF layout), with ``split`` mapped to
        ``rebuild``: there is no in-place split remedy, because the
        cells live in the LEARNED subspace (a shifted stream also moves
        the optimal mu/W, so re-carving cells under stale components
        just re-partitions a wrong projection). The remedy is
        ``rebuild_transform()``. Returns None without a trained
        transform."""
        return self._layout_drift(self._row("pca", space))

    def rebuild_transform(self, spark: SparkSession,
                          space: str | None = None,
                          id_col: str = "id",
                          vec_col: str = "embedding") -> dict | None:
        """Full retrain + re-projection of ONE PCA-transformed space —
        ``pca_drift()``'s remedy and the transform analog of
        ``rebuild_index()``: drop the frozen (mu, W, centroids,
        baseline) and re-run the deferred build against the CURRENT
        table (the bounded id-prefix now includes the shifted data,
        so components, cells, and the drift baseline all re-place).
        Other spaces keep their files. Returns the refreshed
        ``pca_drift()``."""
        layout = self._row("pca", space)
        if not layout.maintained():
            raise ValueError("no PCA transform on this space")
        self._retrain(spark, layout, id_col, vec_col)
        return self.pca_drift(space)

    def _centroids(self, spark: SparkSession) -> list[list[float]]:
        """centroid_id-ordered centroid list (≤ k_centroids rows — a
        driver-side fetch by design; the probe shortlist must be a
        *literal* IN-list for static partition pruning)."""
        if self._centroid_cache is None:
            # pyarrow driver-side read: the table is ≤ k_centroids
            # rows and the values end up as python literals either
            # way — a Spark collect here was a whole job (+ plan
            # analysis) for a few KB. Same float64 bits: both readers
            # decode the identical parquet doubles.
            import pyarrow.parquet as pq

            t = pq.read_table(self._ivf_centroids)
            rows = sorted(t.to_pylist(), key=lambda r: r["centroid_id"])
            self._centroid_cache = [list(r["centroid"]) for r in rows]
        return self._centroid_cache

    def _routing(self, df: DataFrame, vec_col: str) -> Column | str:
        """The vector the coarse quantizer sees — the one rule every
        layout writer (IVF points, cells codes, graphs) routes by: the
        embedding itself for dense collections, the mean-pooled flat
        multivector for MaxSim collections (one routing vector per
        point — the coarse stage of a PLAID-style late-interaction
        index; exact MaxSim runs inside the probed cells). A stored
        column comes back as its NAME — the write-time ``__pooled``
        sidecar for multivectors (mandatory for fp16 storage, binary
        can't pool in Catalyst, and 1/n_vecs of the read either way)
        — which ``nearest_cells`` can inline as SQL text (~ms plan
        build); only legacy multivector rows without the sidecar pool
        in-plan, as a Column (the UDF form, same cells). ``as_double``
        turns either form into the array<double> Column."""
        if not self.meta.get("multivector"):
            return vec_col
        if vec_col + "__pooled" in df.columns:
            return vec_col + "__pooled"
        return mean_pool_flat(F.col(vec_col).cast("array<double>"),
                              int(self.meta["dim"]))

    # -- the layout table: every derived layout, one row each -----------

    def _row(self, kind: str, space: str | None = None) -> _Layout:
        """The one declaration of each layout kind, instantiated for
        one space (``space=None``: the single space; postings take a
        sparse space's name)."""
        meta = self.meta
        cfg = (meta["sparse_vectors"][space] if kind == "postings"
               else meta if space is None else meta["vectors"][space])
        if kind == "cells":
            # a transform collection's cells are its PCA space's
            lay = _Layout(
                kind, None, meta, [self._ivf_points, self._ivf_centroids],
                None, "centroid_id",
                ("index_built", "index_k", "index_balance_ratio"),
                "indexing_threshold",
                lambda: bool(meta.get("indexing_threshold")
                             and not meta.get("transform")),
                meta.get("indexing_threshold"), payload=True, drift="split")
        elif kind == "pca":
            lay = _Layout(
                kind, space, cfg, [self._pca_path_for(space)], None,
                "pcell", ("pca_mu", "pca_w", "pca_centroids",
                          "pca_balance_ratio"), "indexing_threshold",
                lambda: cfg.get("transform") == "pca",
                int(meta.get("indexing_threshold") or 1), drift="rebuild")
        elif kind == "codes":
            # the single space's codes share the IVF cells while they
            # exist; named spaces never auto-index, so theirs stay flat.
            # Train params outlive the cells (never re-derived from them)
            return _Layout(
                kind, space, cfg, [self._codes_path_for(space)],
                ("cells", None) if space is None else None,
                "centroid_id" if space is None else None,
                ("codes_layout", "sq_mins", "sq_steps", "pq_codebooks",
                 "opq_rotation"), "quantization",
                lambda: bool(cfg.get("quantization")),
                write=functools.partial(self._refresh_quant_one, cfg=cfg,
                                        space=space))
        elif kind == "graphs":
            # over the codes when quantized, else over the cells: either
            # way after both, and dropped with the cells
            return _Layout(
                kind, None, meta, [self._hnsw_graphs], ("codes", None),
                "segment", ("hnsw_built",), "hnsw",
                lambda: bool(meta.get("hnsw") and self.has_index()
                             and os.path.isdir(self._ivf_points)),
                0, write=self._refresh_hnsw)
        else:
            path = self._postings_path_for(space)
            return _Layout(
                kind, space, cfg, [path, path + ".df"], None, "bucket",
                ("postings_built", "n_points"), "full_scan_threshold",
                lambda: cfg.get("full_scan_threshold") is not None,
                cfg.get("full_scan_threshold"),
                write=functools.partial(self._refresh_postings, space))
        lay.write = functools.partial(self._refresh_cells, lay)
        return lay

    def _layouts(self) -> list[_Layout]:
        """The layout table: one row per derived layout and space, in
        dependency order — the IVF cells, each space's codes (the
        single space's over the cells), the graphs (over the codes or
        the cells), then the rows sourced from the point table alone:
        each sparse space's postings and each space's PCA cells. Every
        trigger walks it through ``_derive``; snapshots, restore,
        delete, ``info()`` and the drift policy read it."""
        spaces = list(self.meta.get("vectors") or ()) or [None]
        return [self._row("cells"),
                *(self._row("codes", s) for s in spaces),
                self._row("graphs"),
                *(self._row("postings", s)
                  for s in self.meta.get("sparse_vectors") or ()),
                *(self._row("pca", s) for s in spaces)]

    def _derive(self, spark: SparkSession, id_col: str, vec_col: str,
                touched=lambda lay: False, changed=(),
                incoming: DataFrame | None = None, rewrote: bool = True,
                write: bool = False) -> None:
        """The one layout maintenance walk: ``_layouts()`` in
        dependency order, for every trigger.

        - A row the trigger touches (``touched(row)``, or named in
          ``changed``) is refreshed while its gate maintains it — on a
          write (``write``: ``incoming`` appended, or the table
          ``rewrote``) always, on any other trigger only when it is not
          built — and dropped once its gate no longer maintains it.
        - A row whose source changed in this walk (built, dropped or
          re-derived; ``changed`` seeds it) loses its files and built
          marker and re-derives whole: it is never left partitioned by,
          or built over, a layout that is gone.

        The triggers: a write (every row; a payload-only write, the
        rows that copy the payload), a threshold change (the rows of
        that gate), a retrain, quantizer switch or ``hnsw_config``
        change (``_retrain``: the row itself) and a split (the cells
        changed in place)."""
        changed = set(changed)
        data = write or self._has_data(spark)
        for lay in self._layouts():
            stale = lay.source in changed
            if stale:
                changed.add(lay.id)
                if lay.present:
                    self._drop_layout(lay, trained=False)
            elif not (lay.id in changed or touched(lay)):
                continue
            if not lay.maintained():
                if lay.present:
                    self._drop_layout(lay)
                    changed.add(lay.id)
            elif data and (write or stale or not lay.built):
                built = lay.built
                lay.write(spark, None if stale else incoming, id_col,
                          lay.vec(vec_col), rewrote or stale)
                if lay.built != built:
                    changed.add(lay.id)

    def _refresh_cells(self, layout: _Layout, spark: SparkSession,
                       incoming: DataFrame | None, id_col: str,
                       vec_col: str, rewrote: bool) -> None:
        """Maintain one cell layout after a write. The first write at
        or past its threshold trains the cells (``_train_cells``) and
        writes every row; afterwards rows take the FROZEN cells — only
        the incoming batch is assigned and appended (one projection
        over the new rows), and a rewrite (merge conflict / delete /
        compact) re-assigns the surviving table the same cheap way.
        Cells never retrain on a write: drift is metered
        (``_layout_drift``) and remedied by an explicit retrain. The
        balance baseline is recorded only when cells are trained, so a
        rewrite keeps a pending verdict."""
        fresh = not layout.built
        if fresh:
            source = self._train_cells(spark, layout, id_col, vec_col)
            if source is None:
                return
        else:
            source = (self.read(spark) if rewrote or incoming is None
                      else incoming)
        self._write_cells(spark, layout, source, id_col, vec_col,
                          "overwrite" if fresh or rewrote else "append")
        if fresh:
            self._record_baseline(layout)

    def _train_cells(self, spark: SparkSession, layout: _Layout,
                     id_col: str, vec_col: str) -> DataFrame | None:
        """The one cell trainer, once the table holds the layout's
        threshold of points: the id-ordered prefix of the routing
        vectors (``_train_prefix``: bit-reproducible across processes,
        so oracle factories re-derive it from the same parquet), PCA
        components fit on it for a PCA space (the cells are then
        carved in the projected space), and ``kmeans_np(seed=42)``
        cells — a millisecond driver-side train (the FAISS convention)
        where the Spark-ML path cost a distributed pass per
        iteration. Known tradeoff: when ids correlate with the data
        (time-ordered ingest) the prefix trains on early data only;
        the drift meter is the designed catch for exactly that skew.
        Freezes the trained state; returns the table it trained over
        (None: not trained)."""
        from .operators.ann import kmeans_np
        from .operators.pca import PCA_TRAIN_CAP, pca_project_py, pca_train_np

        if self.count(spark, exact=False) < layout.threshold:
            return None  # footer fast count: no per-upsert count job
        table = self.read(spark)
        if vec_col not in table.columns or _is_nested(table, vec_col):
            return None  # legacy nested layout: no flat routing vector
        k = int(self.meta.get("k_centroids")
                or layout.cfg.get("k_centroids") or 16)
        # a PCA fit takes the whole bounded prefix; raw cells take
        # FAISS's 256 points per centroid, floored for tiny k
        cap = (PCA_TRAIN_CAP if layout.kind == "pca"
               else max(4096, min(PCA_TRAIN_CAP, 256 * k)))
        X = self._train_prefix(table.select(F.col(id_col), as_double(
            self._routing(table, vec_col)).alias("__rv")),
            id_col, "__rv", cap)
        if not X:
            return None
        if layout.kind == "pca":
            mu, W = pca_train_np(X, int(layout.cfg["pca_dim"]))
            layout.cfg["pca_mu"], layout.cfg["pca_w"] = mu, W
            X = [pca_project_py(mu, W, v) for v in X]
        self._store_centroids(spark, layout,
                              kmeans_np(X, min(k, len(X)), seed=42))
        return table

    def _store_centroids(self, spark: SparkSession, layout: _Layout,
                         cents) -> None:
        """Freeze a layout's trained (or split) cells: a PCA space
        keeps them in its meta; the IVF layout writes its centroid
        table — a SQL-literal frame, one file in one task
        (createDataFrame of a ≤k-row list parallelizes into
        defaultParallelism near-empty files; repr round-trips the
        doubles through Double.parseDouble) — and records its cell
        count."""
        cents = [[float(x) for x in c] for c in cents]
        if layout.kind == "pca":
            layout.cfg["pca_centroids"] = cents
            return
        local_literal_df(
            spark, list(enumerate(cents)),
            "centroid_id int, centroid array<double>",
        ).write.mode("overwrite").parquet(self._ivf_centroids)
        self._centroid_cache = None
        self.meta.update(index_built=True, index_k=len(cents))

    def _write_cells(self, spark: SparkSession, layout: _Layout,
                     source: DataFrame, id_col: str, vec_col: str,
                     mode: str) -> None:
        """The one cell writer: each row of ``source`` takes its
        nearest frozen cell (``nearest_cells``, the rule ``_probe``
        ranks cells by) and lands in ``partitionBy(key)``. IVF rows keep every column and route on
        ``_routing``; a PCA space's rows are ``(id, pvec)``, projected
        with its frozen (mu, W)."""
        if vec_col not in source.columns or _is_nested(source, vec_col):
            return
        if layout.kind == "pca":
            from .operators.pca import pca_project_expr

            cfg = layout.cfg
            source = source.filter(F.col(vec_col).isNotNull()).select(
                F.col(id_col), pca_project_expr(
                    cfg["pca_mu"], cfg["pca_w"], vec_col=vec_col
                ).alias("pvec"))
            route, cents = "pvec", cfg["pca_centroids"]
        else:
            route = self._routing(source, vec_col)
            cents = self._centroids(spark)
        (source.withColumn(layout.key, nearest_cells(cents, route)[0]["i"])
         .write.mode(mode).partitionBy(layout.key).parquet(layout.path))

    def _record_baseline(self, layout: _Layout) -> None:
        """Record the balance ratio of just-trained cells (first
        build, retrain, split) as the layout's drift baseline: the
        natural KMeans imbalance the cells start from."""
        verdict = self._layout_drift(layout)
        if verdict:
            layout.cfg[layout.baseline] = verdict["balance_ratio"]
        self._save_meta()

    def _layout_drift(self, layout: _Layout) -> dict | None:
        """The drift verdict of a trained layout from its partition
        footers (no Spark job); the caps are the collection's
        ``drift_cell_cap`` / ``drift_growth_cap``."""
        if not layout.built:
            return None
        return _drift_verdict(
            self._partition_footer_counts(layout.path, layout.key),
            layout.k, layout.cfg.get(layout.baseline),
            float(self.meta.get("drift_cell_cap", 4.0)),
            float(self.meta.get("drift_growth_cap", 1.5)),
            split=layout.drift == "split")

    def _drop_layout(self, layout: _Layout, trained: bool = True) -> None:
        """The one drop: a layout's files go, and its meta keys — all
        of them (trained state, baseline), or with ``trained=False``
        only its built marker, when its source changed under it (a
        quantizer's train params outlive the cells its codes were
        partitioned by). ``_derive`` then re-derives or drops every
        row sourced from it."""
        for key in layout.state if trained else layout.state[:1]:
            layout.cfg.pop(key, None)
        for path in layout.paths:
            shutil.rmtree(path, ignore_errors=True)
        self._centroid_cache = None
        self._save_meta()

    def _retrain(self, spark: SparkSession, layout: _Layout,
                 id_col: str, vec_col: str) -> None:
        """Drop one layout and re-derive it and every layout sourced
        from it on the current table: a cell retrain takes the codes
        and graphs along (a PCA space nothing else), a quantizer
        switch the graphs, an ``hnsw_config`` change the graphs
        alone."""
        self._drop_layout(layout)
        self._derive(spark, id_col, vec_col, changed={layout.id})

    # -- per-segment HNSW graphs (hnsw_config parity) ---------------------

    # chunked layouts (max_segment_size) encode segment = cell ×
    # stride + chunk; 4096 chunks/cell bounds a cell at 4096 × mss
    # points before ids collide (far beyond any cell the drift policy
    # would leave unsplit)
    _HNSW_SEG_STRIDE = 4096

    @property
    def _hnsw_graphs(self) -> str:
        return self.path + ".hnsw"

    def _hnsw_segments(self, probe: list[int],
                       names: list[str] | None = None) -> list[int]:
        """Probed CELLS → graph-sidecar SEGMENT ids. Plain layouts are
        1:1; chunked layouts (``max_segment_size``) expand each probed
        cell to its chunk segments from the partition DIRECTORY NAMES
        — one listdir, no footer reads, no scan. ``names`` lets batch
        callers list the sidecar ONCE and expand every query against
        the cached listing. A missing/unlistable sidecar raises: for a
        chunked layout the real segment ids are cell·stride+chunk, so
        returning raw cell ids would match nothing and silently return
        empty results instead of surfacing the broken sidecar."""
        if not (self.meta.get("hnsw") or {}).get("max_segment_size"):
            return probe
        cells = set(probe)
        segs = []
        if names is None:
            try:
                names = os.listdir(self._hnsw_graphs)
            except OSError as e:
                raise FileNotFoundError(
                    f"hnsw graph sidecar unlistable at "
                    f"{self._hnsw_graphs!r} (chunked layout needs the "
                    f"segment directories to resolve probes): {e}"
                ) from e
        for d in names:
            if d.startswith("segment="):
                s = int(d.split("=", 1)[1])
                if s // self._HNSW_SEG_STRIDE in cells:
                    segs.append(s)
        return sorted(segs)

    def _has_hnsw(self) -> bool:
        return bool(self.meta.get("hnsw_built"))

    # Filter-aware graph routing (Qdrant walks its HNSW under filters;
    # the engine routes on MEASURED selectivity instead): a filter
    # matching at least this fraction of the corpus keeps the graph
    # walk — beam widened by 1/fraction, candidates post-filtered at
    # the exact rescore; anything more selective routes index-only
    # (exact scoring within probed cells, filter pushed to the scan).
    # Pinned by the measured sweep (SCALE.md §hnsw-filtered, 200k
    # ×64-d): the walk's cost grows ∝ 1/fraction (2.1 s at 75% →
    # 10.0 s at 5%) while the exact path's SHRINKS with selectivity
    # (the filter prunes its scoring scan). Widening therefore
    # divides whatever advantage made the graph the routed choice by
    # 1/frac; the quantized sidecar's conservative ~4× byte edge is
    # cancelled at frac = 0.25, so below it the path whose cost
    # tracks the match count wins regardless of deployment shape.
    _HNSW_FILTER_CROSSOVER = 0.25

    def _hnsw_filter_stats(self, corpus: DataFrame,
                           query_filter) -> tuple[int, int] | None:
        """``(n_match, n_total)`` for a query_filter over the
        searchable corpus, or None when the filter is too selective
        for the widened-beam graph path (match fraction below
        ``_HNSW_FILTER_CROSSOVER``, or empty). ONE column-pruned agg
        job — Catalyst prunes the scan to the filter's own columns,
        so the estimate costs a metadata-light pass, not a scoring
        scan; integer counts (not a sampled estimate) so the widened
        ``ef = ceil(ef·n/m)`` is bit-reproducible by the oracle
        twin."""
        row = corpus.select(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(query_filter, F.lit(1))).alias("m")
        ).collect()[0]
        n, m = int(row["n"]), int(row["m"])
        if n <= 0 or m <= 0 or m < n * self._HNSW_FILTER_CROSSOVER:
            return None
        return m, n

    def _hnsw_quant_parts(self):
        """The quantized-graph trio ``(data_cols, data_schema,
        decode)`` for hnsw_config × quantization collections — the
        graph sidecar stores the quantizer's CODE column(s) instead of
        full-width doubles (4-32× smaller; Qdrant's documented
        large-corpus posture is exactly this walk-compressed +
        rescore-exact composition), and ``decode`` reconstructs the
        float64 walk space from them. Build and search call THIS
        method for their decode, so the walk always happens in the
        space the graph was built in. Returns None when the
        collection is unquantized or the quantizer is untrained
        (graphs stay full-vector / deferred respectively)."""
        qz = quantizer(self.meta)
        # multivector × quantization: the codes sidecar compresses the
        # FLAT MaxSim vectors, but graphs live over the POOLED routing
        # vectors (dim floats/row — already the small column); walking
        # codes of a different space would be meaningless, so the
        # graph tier stays full-pooled
        if qz is None or not qz.trained or self.meta.get("multivector"):
            return None
        return (qz.cols, ", ".join(f"{c} {qz.col_type}" for c in qz.cols),
                qz.decode)

    def _hnsw_old_stats(self, spark: SparkSession, cells: list[int],
                        cfg: dict) -> dict:
        """Per-cell ``(point_count, max_id)`` from the graph sidecar —
        a partition-pruned, column-pruned agg over only the touched
        cells' segment directories (the append path's routing input:
        count gives the insert positions, max id the strictly-above
        precondition)."""
        segs = self._hnsw_segments(sorted(cells))
        df = _read_parquet(spark, self._hnsw_graphs).filter(
            F.col("segment").isin([int(s) for s in segs]))
        cell = (F.floor(F.col("segment") / self._HNSW_SEG_STRIDE)
                if cfg.get("max_segment_size") else F.col("segment"))
        rows = df.groupBy(cell.cast("bigint").alias("c")).agg(
            F.count(F.lit(1)).alias("n"),
            F.max("vec_id").alias("mx")).collect()
        return {int(r["c"]): (int(r["n"]), r["mx"]) for r in rows}

    def _refresh_hnsw(self, spark: SparkSession,
                      incoming: DataFrame | None, id_col: str,
                      vec_col: str, rewrote: bool) -> None:
        """Maintain the per-cell HNSW graph sidecar after a write
        (``hnsw_config`` collections — Qdrant builds one HNSW per
        segment past ``indexing_threshold``; here segment = IVF cell,
        the routed composition). Its layout row comes after the cells
        and the codes (``_layouts``), so the ``.ivf`` layout already
        holds the appended rows, and ``_derive`` calls it only while
        the cells exist. ONE graph job and ONE write per refresh: a
        rewrite or first build regenerates every cell's graph; an
        append touches only the cells the incoming batch lands in
        (dynamic partition overwrite — the ``split_hot_cells``
        discipline), each either INSERTED into (every new id sorts
        strictly above the cell's stored ids: the batch's rows resume
        the cell's partial last segment — cost ∝ batch + one bounded
        chunk, Qdrant's own incremental upsert) or REBUILT from the
        layout (id interleave, equal-id re-append — the only order
        the deterministic build and its oracle twin define). Both
        are the one ``hnsw_layout`` builder, bit-identical to a
        from-scratch build (operators/hnsw.py resume contract), so
        the sidecar is bit-reproducible — which (with the
        deterministic prefix-trained cells) is what lets the lifecycle
        oracle re-derive the whole read path."""
        cfg = self.meta["hnsw"]
        from pyspark.sql import Window

        from .operators.hnsw import hnsw_layout

        quant = self._hnsw_quant_parts()
        if self.meta.get("quantization") and quant is None \
                and not self.meta.get("multivector"):
            # quantizer configured but untrained (below pq_codes train
            # rows): graphs stay DEFERRED until it trains — building
            # full-vector graphs now would orphan them the moment the
            # codes sidecar appears, and searches below the trained
            # point take the exact scan anyway
            return
        if quant is not None and (
                self.meta.get("codes_layout") != "cells"
                or not os.path.isdir(self._codes_path)):
            # no composed codes layout to graph over yet (the codes
            # row re-derives before the graphs row, so this only
            # happens pre-index or on a flat legacy sidecar)
            return
        data_cols, data_schema, decode = quant or (None, None, None)
        if quant is None:
            layout = _read_parquet(spark, self._ivf_points).filter(
                F.col(vec_col).isNotNull())
        else:
            # hnsw_config × quantization: the graph lives over the
            # CODES sidecar (cells-partitioned by _refresh_quant_one) —
            # the sidecar stores codes + links only, and the walk
            # decodes per segment (_hnsw_quant_parts)
            layout = _read_parquet(spark, self._codes_path).filter(
                F.col(data_cols[0]).isNotNull())
        dcols = data_cols or ["embedding"]

        def rows(df: DataFrame) -> DataFrame:
            # graphs live over the ROUTING vector (or its codes); the
            # id keeps the table's own type so the rescore's
            # literal-IN compares like-for-like (string ids stay
            # strings, longs stay longs)
            data = (data_cols if quant is not None else [as_double(
                self._routing(df, vec_col)).alias("embedding")])
            return df.select("centroid_id",
                             F.col(id_col).alias("vec_id"), *data)

        full = rewrote or incoming is None or not self._has_hnsw()
        # touched cell → rank its first new row takes: the stored count
        # on an insert, 0 on a rebuild
        base: dict[int, int] = {}
        if full:
            new = rows(layout)
        else:
            inc = incoming.filter(F.col(vec_col).isNotNull()).withColumn(
                "centroid_id", nearest_cells(
                    self._centroids(spark),
                    self._routing(incoming, vec_col))[0]["i"])
            inc_min = {int(r["centroid_id"]): r["mn"] for r in
                       inc.groupBy("centroid_id").agg(
                           F.min(F.col(id_col)).alias("mn")).collect()}
            if not inc_min:
                return
            # a cell whose stored ids all sort strictly below the
            # batch's INSERTS (resumes its live graph); any other
            # touched cell REBUILDS from the layout
            old = self._hnsw_old_stats(spark, sorted(inc_min), cfg)
            ins = sorted(c for c, mn in inc_min.items()
                         if c not in old or mn > old[c][1])
            rb = sorted(set(inc_min) - set(ins))
            base = {c: old[c][0] if c in ins and c in old else 0
                    for c in inc_min}
            parts = []
            if ins:
                # insert cells read the assigned batch itself (cost ∝
                # batch; quantized: encoded with the frozen params)
                inc = inc.filter(F.col("centroid_id").isin(ins))
                if quant is not None:
                    inc = quantizer(self.meta).encode(
                        inc, vec_col, id_col, carry=("centroid_id",))
                parts.append(rows(inc))
            if rb:
                parts.append(rows(layout.filter(
                    F.col("centroid_id").isin(rb))))
            new = functools.reduce(DataFrame.unionByName, parts)
        # duplicate ids are ALLOWED (append mode) — a content hash of
        # the routing vector (or code columns) breaks their ties
        # deterministically, so chunk membership AND in-segment build
        # order are bit-reproducible run-to-run (not
        # row-arrival-ordered)
        new = new.withColumn("__tie", F.xxhash64(*dcols))
        id_type = new.schema["vec_id"].dataType.simpleString()
        seg = F.col("centroid_id").cast("bigint")
        mss = cfg.get("max_segment_size")
        if mss:
            # the bounded-segment rule as config (Qdrant's own
            # max_segment_size regime, measured at the 1M stress:
            # recall at fixed ef is a function of SEGMENT size, so
            # capping it keeps a measured (ef → recall) point valid
            # as cells grow): each cell splits into id-ordered chunks
            # of ≤ mss points, segment id = cell·_HNSW_SEG_STRIDE +
            # chunk, where a point's chunk is its 0-based position in
            # the cell's (id, tie) order over mss — new rows rank
            # after the cell's ``base`` stored points (0 on a rebuild)
            w = Window.partitionBy("centroid_id").orderBy(
                F.col("vec_id").asc(), F.col("__tie").asc())
            rank = F.row_number().over(w) - 1
            if base:
                # per-cell stored counts as a broadcast-joined side
                # table, not a create_map literal — an append touching
                # thousands of cells (large k_centroids) would
                # otherwise inflate a single Catalyst expression
                new = new.join(F.broadcast(local_literal_df(
                    spark, sorted(base.items()),
                    "centroid_id int, __base bigint")), "centroid_id")
                rank = F.col("__base") + rank
            seg = seg * self._HNSW_SEG_STRIDE + F.floor(rank / int(mss))
        new = new.select(seg.cast("bigint").alias("segment"), "vec_id",
                         *dcols, "__tie")
        # the insert cells' partial last segments are the built
        # prefixes their new rows resume; full chunks are never read
        # or rewritten
        prefix = sorted(
            (c * self._HNSW_SEG_STRIDE + (n - 1) // int(mss)) if mss
            else c for c, n in base.items()
            if n > 0 and not (mss and n % int(mss) == 0))
        if prefix:
            new = _read_parquet(spark, self._hnsw_graphs).filter(
                F.col("segment").isin(prefix)).unionByName(
                    new, allowMissingColumns=True)
        lay = hnsw_layout(
            new, seg_col="segment", m=int(cfg["m"]),
            ef_construct=int(cfg["ef_construct"]), id_type=id_type,
            normalize=(quant is not None
                       or self.meta.get("metric", "cosine") == "cosine"),
            tie_col="__tie", data_cols=data_cols,
            data_schema=data_schema, decode=decode)
        writer = lay.write.mode("overwrite").partitionBy("segment")
        if not full:
            # replace only the touched segment directories
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.parquet(self._hnsw_graphs)
        if not self._has_hnsw():
            self.meta["hnsw_built"] = True
            self._save_meta()

    def rebuild_index(self, spark: SparkSession, vec_col: str = "embedding",
                      id_col: str = "id") -> None:
        """Explicit full retrain of the IVF cells, re-deriving the
        codes and graphs keyed on them (the maintenance analog of
        dropping and re-creating Qdrant's index); the ``drift_auto``
        policy then applies to the fresh layout."""
        self._retrain(spark, self._row("cells"), id_col, vec_col)
        self._auto_drift(spark, id_col, vec_col)

    def split_hot_cells(self, spark: SparkSession,
                        cap_fraction: float | None = None,
                        vec_col: str = "embedding",
                        id_col: str = "id") -> dict:
        """In-place cap-and-split of the IVF layout's hot cells — the
        remedy for ``index_drift()['action'] == 'split'``: the data is
        legitimately dense somewhere (a retrain would park the dense
        region in one heavy cell again, measured at the 10M drift
        stress), so instead of a full rewrite only the hot cells'
        members are re-trained into sub-centroids and only the hot
        partition directories are rewritten
        (``operators.ann.ivf_split_hot_cells`` — cost ∝ hot data, not
        corpus; cold partition dirs move by RENAME only).

        The probe addresses centroids by dense position
        (``nearest_cells`` / ``_probe``), so after retiring hot ids the kept + new
        cells are renumbered 0..m-1: cold directories are renamed
        (metadata-only on a filesystem; a manifest update at 100 TB),
        the centroid table is rewritten in the new order, and the
        drift baseline resets to the post-split layout. The codes and
        graphs keyed on the cells re-derive over the new cell ids.
        Dense single-space collections only — the multivector routing
        sidecar and named spaces route through different columns; use
        rebuild_index().

        Returns the refreshed ``index_drift()`` dict (a no-op split —
        nothing over the cap — returns the current one unchanged)."""
        if not self.has_index() or not os.path.isdir(self._ivf_points):
            raise ValueError("no IVF layout to split")
        if self.meta.get("multivector") or self.meta.get("vectors"):
            raise NotImplementedError(
                "split_hot_cells supports dense single-space "
                "collections; use rebuild_index()")
        from .operators.ann import ivf_split_hot_cells

        layout = self._row("cells")
        cap = (cap_fraction if cap_fraction is not None
               else float(self.meta.get("drift_cell_cap", 4.0)) / layout.k)
        cents = self._centroids(spark)
        counts = self._ivf_footer_counts()
        re_assigned, cent_rows = ivf_split_hot_cells(
            _read_parquet(spark, layout.path), cents, cap_fraction=cap,
            id_col=id_col, vec_col=vec_col, counts=counts)
        if len(cent_rows) == len(cents):
            return self.index_drift()

        def cell(cid: int) -> str:
            return os.path.join(layout.path, f"centroid_id={cid}")

        # write ONLY the new sub-partitions; retire the hot dirs
        (re_assigned.filter(F.col("centroid_id") >= len(cents))
         .write.mode("append").partitionBy("centroid_id")
         .parquet(layout.path))
        for cid in set(counts) - {cid for cid, _ in cent_rows}:
            shutil.rmtree(cell(cid), ignore_errors=True)
        # renumber to dense 0..m-1 (ascending old id → target ≤ old
        # id, so in-order renames never collide)
        cent_rows.sort(key=lambda t: t[0])
        for new_id, (old_id, _) in enumerate(cent_rows):
            if new_id != old_id:
                os.rename(cell(old_id), cell(new_id))
        self._store_centroids(spark, layout, [c for _, c in cent_rows])
        self._record_baseline(layout)
        self._derive(spark, id_col, vec_col, changed={layout.id})
        return self.index_drift()

    _UNSET = object()

    def update_collection(self, spark: SparkSession,
                          quantization=_UNSET,
                          indexing_threshold=_UNSET,
                          id_col: str = "id",
                          vec_col: str = "embedding",
                          vectors: dict | None = None,
                          sparse_vectors: dict | None = None,
                          drift_auto=_UNSET,
                          hnsw_config=_UNSET) -> None:
        """Qdrant's ``update_collection`` (post-create config changes):

        - ``quantization``: switch to ``"sq"``/``"bq"``/``"pq"``/
          ``"opq"`` (the code sidecar re-trains/encodes over the
          current table) or ``None`` (sidecar + frozen train params
          dropped — searches go exact). The create rules apply.
        - ``indexing_threshold``: raise/lower/disable the deferred IVF
          build; lowering it below the current point count triggers
          the build on the spot (Qdrant rebuilds on optimizer-config
          changes too).
        - ``vectors``: per-space diffs for NAMED collections (Qdrant
          ``vectors_config={name: VectorParamsDiff}``) — currently
          ``{"quantization": ...}``, with the same rules and
          re-train/re-encode/drop semantics per space.
        - ``sparse_vectors``: per-sparse-space diffs (Qdrant
          ``sparse_vectors_config`` updates) — ``{"modifier":
          None/"idf"}``. The modifier is a QUERY-time weighting here
          (stats come from the postings at search), so the switch is
          pure metadata — no re-encode.
        - ``drift_auto``: set/clear the post-write drift policy
          (``None``/``"split"``/``"rebuild"`` — see
          ``create_collection``). Enabling it applies the policy to
          the CURRENT layout immediately (Qdrant re-optimizes on
          optimizer-config changes too).
        - ``hnsw_config``: set/replace ``{"m", "ef_construct"}``
          (graphs rebuild over the current cells on the spot —
          Qdrant rebuilds HNSW on hnsw-config diffs too) or ``None``
          (graph sidecar dropped; searches take the cells-scan path).
          Same rules as create: needs ``indexing_threshold``,
          cosine/euclid, exclusive with transform; over a quantized
          collection (cosine only) the graphs build on the CODES
          sidecar and searches walk the decoded space. Setting
          ``quantization`` on an hnsw collection rebuilds the graphs
          over the new codes (or back over full vectors on None).

        Omitted arguments stay unchanged. Every change goes through
        the layout walk (``_derive``): a threshold change builds the
        layouts of that gate now due and drops the ones it no longer
        maintains, and every layout sourced from one that changed
        re-derives (codes leave a dropped cell set, graphs go with it)."""
        if sparse_vectors is not None:
            sv = self.meta.get("sparse_vectors") or {}
            for sname, diff in sparse_vectors.items():
                if sname not in sv:
                    raise ValueError(f"unknown sparse space {sname!r} "
                                     f"(have {sorted(sv)})")
                sv[sname].update(_sparse_space_rules(sname, diff))
                if sv[sname].get("full_scan_threshold") is None:
                    # disabled: absent, as create_collection stores it
                    sv[sname].pop("full_scan_threshold", None)
            self._save_meta()
            self._derive(spark, id_col, vec_col,
                         lambda lay: lay.gate == "full_scan_threshold")
        if self.meta.get("vectors") is not None and (
                quantization is not self._UNSET
                or indexing_threshold is not self._UNSET
                or drift_auto is not self._UNSET
                or hnsw_config is not self._UNSET):
            raise ValueError(
                "config updates apply to single-space collections "
                "(use vectors={name: {...}} for named spaces)")
        if vectors is not None:
            named = self.meta.get("vectors")
            if not named:
                raise ValueError("collection has no named vectors")
            for sname, diff in vectors.items():
                if sname not in named:
                    raise ValueError(f"unknown vector name {sname!r} "
                                     f"(have {sorted(named)})")
                unknown = sorted(set(diff) - {"quantization"})
                if unknown:
                    raise ValueError(
                        f"unknown key(s) {unknown} in vector space "
                        f"{sname!r} diff")
            for sname, diff in vectors.items():
                if "quantization" in diff:
                    self._set_quantization(spark, sname,
                                           diff["quantization"], id_col,
                                           vec_col)
        if quantization is not self._UNSET:
            self._set_quantization(spark, None, quantization, id_col,
                                   vec_col)
        if indexing_threshold is not self._UNSET:
            self.meta["indexing_threshold"] = indexing_threshold
            self._save_meta()
            self._derive(spark, id_col, vec_col,
                         lambda lay: lay.gate == "indexing_threshold")
        if drift_auto is not self._UNSET:
            _drift_auto_rule(drift_auto, self.meta.get("indexing_threshold"),
                             self.meta.get("transform"),
                             self.meta.get("multivector"))
            if drift_auto is not None:
                self.meta["drift_auto"] = drift_auto
            else:
                self.meta.pop("drift_auto", None)
            self._save_meta()
            if drift_auto is not None and self._has_data(spark):
                # enabling the policy applies it to the CURRENT layout
                # on the spot (Qdrant re-optimizes on optimizer-config
                # changes too)
                self._auto_drift(spark, id_col, vec_col)
        if hnsw_config is not self._UNSET:
            if hnsw_config is None:
                self.meta.pop("hnsw", None)
            else:
                self.meta["hnsw"] = _hnsw_validate(
                    hnsw_config, self.meta.get("indexing_threshold"),
                    self.meta.get("metric"),
                    self.meta.get("quantization"),
                    self.meta.get("transform"))
            # an m/ef_construct change means NEW graphs
            self._retrain(spark, self._row("graphs"), id_col, vec_col)

    def _set_quantization(self, spark: SparkSession, space: str | None,
                          q: str | None, id_col: str, vec_col: str) -> None:
        """Switch one space's quantizer (``space=None``: the single
        space) under the create rules: its codes layout is retrained
        (``_retrain`` — the old train params and sidecar go, then the
        codes re-encode over the current table, or stay gone on
        ``q=None``), and the graphs sourced from the codes rebuild over
        the new codes (or over full vectors on None)."""
        cfg = self.meta if space is None else self.meta["vectors"][space]
        rules = _dense_space_rules(
            cfg["dim"], cfg.get("multivector"), q, None, None,
            cfg.get("datatype"), cfg.get("transform"), cfg.get("pca_dim"))
        if cfg.get("hnsw"):
            _hnsw_quant_rule(cfg.get("metric"), q)
        for key in ("pq_blocks", "pq_codes"):
            cfg.pop(key, None)
        cfg["quantization"] = q
        cfg.update((k, rules[k]) for k in ("pq_blocks", "pq_codes")
                   if k in rules)
        self._retrain(spark, self._row("codes", space), id_col, vec_col)

    # -- named vector spaces (Qdrant vectors_config={name: ...}) ----------

    def _vector_cfg(self, using: str | None, vec_col_default: str) -> dict:
        """Resolve one vector space's config: the named entry for
        ``using`` (Qdrant ``query_points(using=...)``), or the
        collection-level config for single-space collections."""
        named = self.meta.get("vectors")
        if named:
            if using is None:
                if len(named) == 1:
                    using = next(iter(named))
                else:
                    raise ValueError(
                        f"collection has named vectors {sorted(named)}; "
                        "pass using=<name>")
            if using not in named:
                raise ValueError(f"unknown vector name {using!r} "
                                 f"(have {sorted(named)})")
            return {**named[using], "vec_col": using,
                    "nv_col": using + "__nv"}
        if using is not None:
            raise ValueError("collection has no named vectors")
        return {**self.meta, "vec_col": vec_col_default, "nv_col": "n_vecs"}

    def _sparse_space(self, using: str | None) -> str | None:
        """The sparse space ``using`` addresses, or None for a dense
        one. ``using=None`` means the sparse space only on a
        sparse-only collection (no dense space at all)."""
        sv = self.meta.get("sparse_vectors") or {}
        if not sv or not (using in sv or (using is None
                                          and "dim" not in self.meta
                                          and not self.meta.get("vectors"))):
            return None
        if using is None and len(sv) > 1:
            raise ValueError(f"collection has sparse spaces {sorted(sv)}; "
                             "pass using=<name>")
        return using or next(iter(sv))

    def _vector_columns(self, vec_col_default: str = "embedding") -> set[str]:
        """Every vector-data column (every dense space's
        :func:`_space_columns`, plus sparse index/value arrays) — the
        complement of the payload."""
        out = {c for name in (self.meta.get("vectors") or [None])
               for c in _space_columns(self._vector_cfg(name,
                                                        vec_col_default))}
        for name in (self.meta.get("sparse_vectors") or ()):
            out.update((name + "__sidx", name + "__sval"))
        return out

    def _reserved_columns(self, id_col: str, vec_col: str) -> set[str]:
        """What the payload point ops never write: the vector data,
        the id and the shard key (points route by it — Qdrant's
        custom sharding — it is not payload)."""
        return (self._vector_columns(vec_col) | {id_col}
                | {self.meta.get("shard_key")} - {None})

    def _apply_with_payload(self, df: DataFrame, with_payload,
                            id_col: str, vec_col: str,
                            keep_extra: tuple = ()) -> DataFrame:
        """Qdrant ``with_payload`` selector: ``True`` keeps every
        payload column (the default everywhere), ``False``/``None``
        drops them all, a list keeps that subset, and
        ``{"exclude": [...]}`` keeps the complement. A plain post-
        projection — Catalyst prunes the dropped columns back out of
        the scan, so narrowing payload narrows IO too. ``keep_extra``
        names result-structure columns (group keys, lookup fields)
        the selector must never treat as payload."""
        if with_payload is True:
            return df
        keep = self._vector_columns(vec_col) | {
            id_col, "score", "rank", "query_idx"} | set(keep_extra)
        payload = [c for c in df.columns if c not in keep]
        if with_payload is False or with_payload is None:
            sel = set()
        elif isinstance(with_payload, dict):
            excl = set(with_payload.get("exclude", ()))
            sel = {c for c in payload if c not in excl}
        else:
            sel = set(with_payload)
            unknown = sel - set(payload)
            if unknown:
                raise ValueError(
                    f"with_payload names unknown fields: {sorted(unknown)}")
        return df.select(*[c for c in df.columns
                           if c not in payload or c in sel])

    @staticmethod
    def _encode_datatype(points: DataFrame, cfg: dict) -> DataFrame:
        """Apply the space's storage datatype after the float-side
        discipline (normalize/flatten/pool) has run: ``float16``
        packs the flat multivector into fp16 bytes
        (``halfvec_encode_udf``) — half the scan bytes; the MaxSim
        scorers decode natively and score in float64."""
        if cfg.get("datatype") == "float16":
            from .operators.maxsim import halfvec_encode_udf

            col = cfg["vec_col"]
            points = points.withColumn(
                col, halfvec_encode_udf(F.col(col).cast("array<double>")))
        return points

    @staticmethod
    def _prep_vec(points: DataFrame, cfg: dict, path: str,
                  defer_dim_check: bool = False) -> DataFrame:
        """Write-path vector discipline for one space: dimension check,
        normalize-at-write, nested→flat multivector conversion, and —
        for multivector spaces with a declared dim — the
        ``{vec}__pooled`` mean-pool sidecar (dim floats/row).

        The sidecar is what makes two-stage retrieval
        (``search(rescore=N)``) actually read 1/n_vecs of the bytes at
        query time: stage 1 scans ONLY the pooled column (column
        pruning) instead of re-pooling the full flat vectors — pooling
        cost is paid once at write, exactly like normalization (the
        at-shape lesson, BASELINE.md §MaxSim-at-shape, applied to the
        collection surface). Values are the same Catalyst
        ``mean_pool_flat`` expression either way, so stage-1 scores
        are bit-identical to the compute-at-read fallback (which
        remains for collections written before round 5)."""
        col, nv = cfg["vec_col"], cfg["nv_col"]
        dim = cfg.get("dim")
        if col not in points.columns:
            return points
        if isinstance(points.schema[col].dataType, BinaryType):
            # already fp16-encoded (a re-upsert of read rows): the
            # normalize/flatten/pool discipline ran when these bytes
            # were first written — sidecars travel with them
            return points
        if cfg.get("multivector") and _is_nested(points, col):
            if dim:
                # Deferred form (fresh collections / plain appends —
                # see upsert): an in-row raise_error guard evaluated
                # BY the write itself, so the batch is validated
                # without a separate action re-running the whole
                # upstream pipeline (the eager limit(1).count() was a
                # full extra pass INCLUDING the embed UDF). _write_main
                # translates the surfaced error back to the ValueError
                # contract. Eager form kept where a mid-write failure
                # would not be atomic (merge into existing data).
                msg = (f"vector dimension mismatch: expected {dim} "
                       f"(collection {path})")
                if defer_dim_check:
                    points = points.withColumn(
                        col,
                        F.when(
                            F.exists(F.col(col),
                                     lambda v: F.size(v) != dim),
                            F.raise_error(F.lit(msg)).cast(
                                points.schema[col].dataType),
                        ).otherwise(F.col(col)))
                elif points.filter(
                        F.exists(F.col(col), lambda v: F.size(v) != dim)
                        ).limit(1).count():
                    raise ValueError(msg)
            if cfg.get("normalize"):
                points = points.withColumn(
                    col,
                    F.transform(F.col(col),
                                lambda v: l2_normalize(v.cast("array<double>"))),
                )
            points = points.withColumn(
                nv, F.size(F.col(col)).cast("int")
            ).withColumn(
                col, F.flatten(F.col(col).cast("array<array<double>>")),
            )
            if dim:
                points = points.withColumn(
                    col + "__pooled",
                    mean_pool_flat(F.col(col).cast("array<double>"), dim))
            return Collection._encode_datatype(points, cfg)
        if cfg.get("multivector"):
            if dim and col + "__pooled" not in points.columns:
                # pre-flattened multivector input: same sidecar
                points = points.withColumn(
                    col + "__pooled",
                    mean_pool_flat(F.col(col).cast("array<double>"), dim))
            return Collection._encode_datatype(points, cfg)
        if not cfg.get("multivector"):
            if cfg.get("normalize"):
                points = points.withColumn(
                    col, l2_normalize(as_double(F.col(col)))
                )
            if dim:
                # dimension check at write (schema discipline, SURVEY.md
                # §1.3); deferred form as in the multivector branch
                msg = (f"vector dimension mismatch: expected {dim} "
                       f"(collection {path})")
                if defer_dim_check:
                    points = points.withColumn(
                        col,
                        F.when(
                            F.size(F.col(col)) != dim,
                            F.raise_error(F.lit(msg)).cast(
                                points.schema[col].dataType),
                        ).otherwise(F.col(col)))
                elif points.filter(
                        F.size(F.col(col)) != dim).limit(1).count():
                    raise ValueError(msg)
        return points

    # -- quantization (Qdrant quantization_config parity) -----------------

    @property
    def _codes_path(self) -> str:
        return self._codes_path_for(None)

    def _codes_path_for(self, space: str | None) -> str:
        """Codes sidecar location: one per quantized vector space —
        the collection-level sidecar for single-space collections, a
        per-space sibling for named spaces (Qdrant's per-VectorParams
        quantization_config)."""
        return self.path + (".codes" if space is None
                            else f".codes-{space}")

    def _pca_path_for(self, space: str | None) -> str:
        """Projected-vector sidecar for one PCA-transformed space
        (``transform="pca"``): rows ``(id, pvec, pcell)`` partitioned
        by ``pcell`` — IVF cells carved in the COMPRESSED space, so a
        probe is a statically partition-pruned scan of the r/d-sized
        sidecar (the FAISS ``PCA,IVF`` layout as collection state)."""
        return self.path + (".pca" if space is None else f".pca-{space}")

    def _postings_path_for(self, space: str) -> str:
        """On-disk inverted index for one sparse space: posting rows
        ``(id, idx, val)`` Hive-partitioned by ``bucket = idx mod B``
        and sorted by ``idx`` within files — a sparse probe reads only
        the query terms' bucket directories (static partition prune)
        and inside them only the row groups whose idx range covers a
        query term (footer min/max prune)."""
        return self.path + f".postings-{space}"

    _POSTING_BUCKETS = 64

    def _write_postings(self, df: DataFrame, space: str, id_col: str,
                        mode: str) -> int:
        """Explode one sparse space's arrays into the bucketed posting
        layout; returns the number of points written (the layout's
        IDF ``N``). ``repartition(bucket)`` before the partitioned
        write keeps it to one task per bucket (the small-files trap,
        same as the IVF layout write)."""
        from .operators.sparse import sparse_postings

        idx_c, val_c = space + "__sidx", space + "__sval"
        enc = df.filter(F.col(idx_c).isNotNull()).select(
            F.col(id_col),
            F.col(idx_c).alias("indices"), F.col(val_c).alias("values"))
        n = enc.count()
        posts = sparse_postings(enc, id_col=id_col).withColumn(
            "bucket",
            F.pmod(F.col("idx"), F.lit(self._POSTING_BUCKETS)).cast("int"))
        (posts.repartition("bucket")
         .sortWithinPartitions("bucket", "idx")
         .write.mode(mode).partitionBy("bucket")
         .parquet(self._postings_path_for(space)))
        # per-term document frequency, computed AT INDEX TIME (the
        # Qdrant Modifier.IDF contract this engine mirrors): a tiny
        # (idx, df) sidecar so a search joins df instead of
        # re-aggregating over the probed posting lists — at 100 TB a
        # common term's posting list is corpus-scale and the per-query
        # agg is a real pass over it. Appends merge by summing batch
        # counts: ids are unique across batches (the id-uniqueness
        # invariant every point op relies on), so the sum equals the
        # count_distinct the query-time agg computed.
        dfq = (sparse_postings(enc, id_col=id_col).groupBy("idx")
               .agg(F.count_distinct(F.col(id_col)).cast("double")
                    .alias("df")))
        dpath = self._postings_path_for(space) + ".df"
        if mode == "append" and os.path.isdir(dpath):
            old = _read_parquet(df.sparkSession, dpath)
            dfq = (old.unionByName(dfq).groupBy("idx")
                   .agg(F.sum("df").alias("df")))
        tmp = dpath + ".tmp"
        dfq.coalesce(1).write.mode("overwrite").parquet(tmp)
        if os.path.isdir(dpath):
            shutil.rmtree(dpath)
        os.rename(tmp, dpath)
        return n

    def _refresh_postings(self, space: str, spark: SparkSession,
                          incoming: DataFrame | None, id_col: str,
                          vec_col: str, rewrote: bool) -> None:
        """Maintain one sparse space's posting layout after a write
        (Qdrant builds its sparse inverted index at upsert once past
        ``full_scan_threshold``). Appends write only the incoming
        batch's postings into the existing bucket dirs; a rewrite
        (merge conflict / delete / compact) rebuilds from the
        surviving table. ``n_points`` (the space's IDF N — points
        carrying the space) is maintained alongside so probes never
        re-count the corpus."""
        cfg = self.meta["sparse_vectors"][space]
        built = bool(cfg.get("postings_built"))
        if built and not rewrote and incoming is not None:
            cfg["n_points"] = cfg.get("n_points", 0) + \
                self._write_postings(incoming, space, id_col, "append")
        elif built or (self._has_data(spark) and
                       self.count(spark, exact=False)
                       >= cfg["full_scan_threshold"]):
            cfg["n_points"] = self._write_postings(
                _read_parquet(spark, self.path), space, id_col, "overwrite")
            cfg["postings_built"] = True
        else:
            return
        self._save_meta()

    @staticmethod
    def _train_prefix(table: DataFrame, id_col: str, vec_col: str,
                      cap: int) -> list[list[float]]:
        """First ``cap`` rows BY ID as python float lists — the
        deterministic bounded train set every driver-side trainer
        (IVF and PCA cells, PQ/OPQ codebooks) uses. Two steps on
        purpose: the id frontier first (a TakeOrdered over bare ids —
        ≤ tasks×cap×8 B to the driver), then ONE filtered scan
        collecting exactly those rows' vectors. Collecting vectors through
        ``orderBy().limit(cap)`` directly ships every partition's
        top-``cap`` VECTORS to the driver before the final take —
        32 tasks × 65536 × 64 doubles ≈ 1 GB at 2M×64, over
        ``spark.driver.maxResultSize`` (found by the composed
        stress)."""
        base = table.filter(F.col(vec_col).isNotNull())
        ids = [r[0] for r in (base.select(id_col)
                              .orderBy(F.col(id_col).asc())
                              .limit(cap).collect())]
        if not ids:
            return []
        rows = (base.filter(F.col(id_col) <= ids[-1])
                .select(F.col(id_col),
                        as_double(F.col(vec_col)).alias("__v"))
                .collect())
        rows.sort(key=lambda r: r[0])
        return [list(r["__v"]) for r in rows]

    def _refresh_quant_one(self, spark: SparkSession,
                           incoming: DataFrame | None, id_col: str,
                           vec_col: str, rewrote: bool, cfg: dict,
                           space: str | None) -> None:
        """The writer of one space's codes row: maintain its quantized
        sidecar after a write. SQ trains per-dim (min, step) ONCE on
        first build and freezes them in the config (Qdrant quantizes
        with build-time stats too); later upserts encode only the
        incoming batch with the frozen params. BQ is trainless. A
        rewrite (merge conflict / delete / compact) re-encodes the
        surviving table — same cost shape as the scan that produced
        it. ``cfg`` is the dict the quantizer config and frozen train
        params live in (the meta itself for single-space collections,
        the space's sub-dict for named ones — both persist through
        ``_save_meta``)."""
        qz = quantizer(cfg)
        if not qz.trained:
            # train ONCE and freeze the params in the config (Qdrant
            # quantizes with build-time stats too). SQ is one agg over
            # the table (a flat-multivector space pools every SUBVECTOR,
            # fp16 storage decoded first so codes quantize the stored
            # values); PQ/OPQ codebooks train on the id-ordered bounded
            # prefix (the _train_cells fetch: a TakeOrdered heap,
            # ≤ PCA_TRAIN_CAP rows to the driver — reproducible by an
            # oracle factory from the same parquet). Below pq_codes
            # train rows the quantizer stays untrained and searches
            # take the exact scan.
            from .operators.pca import PCA_TRAIN_CAP

            if not self._has_data(spark):
                return
            table = self._float_mv(self.read(spark), vec_col)
            if vec_col not in table.columns or _is_nested(table, vec_col):
                return
            params = qz.train(table, vec_col, lambda: self._train_prefix(
                table, id_col, vec_col, PCA_TRAIN_CAP))
            if params is None:
                return
            cfg.update(params)
            self._save_meta()
            incoming, rewrote = None, True  # encode the whole table once
        # When the IVF layout exists, the codes sidecar shares it
        # (multivector collections route on the POOLED vector — the
        # same coarse space the cells were carved over):
        # partitionBy(centroid_id) so the quantized prefetch inside
        # probed cells is statically partition-pruned — the composed
        # read path scans (nprobe/kc) × the 4-32×-smaller codes, not
        # the full-precision cells. The codes row follows the cells row
        # (``_layouts``), so the centroid set is current. A flat-layout
        # sidecar left from before the index crossed its threshold is
        # re-encoded whole (one scan, same cost shape as the index
        # build that just happened).
        cells = (space is None and self.has_index())
        if cells != (cfg.get("codes_layout") == "cells"):
            # layout transition (index just built, or just dropped):
            # re-encode the whole table so the sidecar is uniformly
            # partitioned (or uniformly flat) — appending the other
            # shape would leave files the probe can't prune
            incoming, rewrote = None, True
        # Whole-table encodes on an index-maintained collection read
        # the CELLS LAYOUT instead of the main table: the layout holds
        # the same rows (every trigger refreshes it first — the
        # table's dependency order) with centroid_id already materialized
        # as the partition column, so re-running the k·d assignment
        # over the corpus here was a duplicated full pass (guide §2.4).
        # It is also the FAITHFUL source after split_hot_cells: the
        # split re-assigns hot-cell members among their sub-centroids
        # in place, which a fresh global argmin over the merged
        # centroid set does not always reproduce — codes must share
        # the points layout's cells for probe pruning to be complete.
        # Gated on indexing_threshold: only then does the cells row
        # maintain the layout on every write.
        use_layout = (cells and (rewrote or incoming is None)
                      and bool(self.meta.get("indexing_threshold")))
        source = (_read_parquet(spark, self._ivf_points) if use_layout
                  else self.read(spark) if rewrote or incoming is None
                  else incoming)
        if vec_col not in source.columns:
            return
        if cells and "centroid_id" not in source.columns:
            if cfg.get("multivector") and \
                    vec_col + "__pooled" not in source.columns:
                # legacy pre-pooled-sidecar rows only; the normal
                # path routes on the float pooled column (fp16 flat
                # cells decode inside sq_encode_flat itself)
                source = self._float_mv(source, vec_col)
            # the points layout's own assignment: codes must share its
            # cells for probe pruning to be complete
            source = source.withColumn("centroid_id", nearest_cells(
                self._centroids(spark),
                self._routing(source, vec_col))[0]["i"])
        carry: tuple = ("centroid_id",) if cells else ()
        codes = qz.encode(source, vec_col, id_col, carry)
        mode = "overwrite" if rewrote else "append"
        w = codes.write.mode(mode)
        if cells:
            w = w.partitionBy("centroid_id")
        w.parquet(self._codes_path_for(space))
        layout = "cells" if cells else "flat"
        if cfg.get("codes_layout") != layout:
            cfg["codes_layout"] = layout
            self._save_meta()

    @staticmethod
    def _float_mv(df: DataFrame, vec_col: str) -> DataFrame:
        """Ensure a multivector column is float-valued for sidecar
        maintenance: fp16 ``binary`` storage (``datatype='float16'``)
        decodes back to ``array<double>`` — codes then quantize the
        STORED (fp16-rounded) values, the honest composition."""
        if vec_col in df.columns and isinstance(
                df.schema[vec_col].dataType, BinaryType):
            from .operators.maxsim import halfvec_decode_udf

            return df.withColumn(vec_col,
                                 halfvec_decode_udf(F.col(vec_col)))
        return df

    def _quant_shortlist(self, spark: SparkSession, qvs: list, m: int,
                         id_col: str,
                         probe_ids: list[int] | None = None,
                         cfg: dict | None = None,
                         space: str | None = None,
                         with_scores: bool = False,
                         batch: bool = False) -> DataFrame:
        """The m best points under the quantized metric: ids for one
        query, ``(query_idx, id)`` pairs for a ``batch``. With
        ``probe_ids`` (the composed IVF+quantization path) the codes
        scan is reduced to a literal ``centroid_id IN (...)`` —
        statically partition-pruned on the cells codes layout, so the
        probe reads (nprobe/kc) of an already-4-32×-smaller sidecar.
        ``cfg``/``space`` select a named space's sidecar + train
        params (default: the collection-level quantizer).
        ``with_scores`` keeps the quantized ranking score as ``score``
        (QuantizationSearchParams(rescore=False) — sq/pq/opq; callers
        reject bq, whose Hamming rank is not a similarity).

        One body for Q ≥ 1: every query's operand (operators/quant.py)
        is inlined as literals for one query, or rides a broadcast
        ``local_literal_df`` for a batch — ONE codes pass for every
        query — and the same score expression ranks the codes; only
        the leaf differs (``global_topk``, a TakeOrderedAndProject
        heap, vs the map-side-pruned per-query ``grouped_topk``)."""
        from .operators.topk import global_topk, grouped_topk

        qz = quantizer(self.meta if cfg is None else cfg)
        codes = _read_parquet(spark, self._codes_path_for(space))
        if probe_ids is not None:
            codes = codes.filter(
                F.col("centroid_id").isin([int(i) for i in probe_ids]))
        ops = [qz.operand(v) for v in qvs]
        lead = ["query_idx"] if batch else []
        if batch:
            codes = codes.join(F.broadcast(local_literal_df(
                spark, list(enumerate(ops)),
                f"query_idx int, {qz.operand_col} {qz.operand_type}")))
        scored = codes.select(*lead, F.col(id_col), qz.score(
            qz.operand_col if batch else ops[0]).alias(qz.key))
        order = [(qz.key, qz.ascending), (id_col, True)]
        out = (grouped_topk(scored, lead, order, m) if batch
               else global_topk(scored, order, m))
        return out.select(*lead, id_col, *(
            [F.col(qz.key).alias("score")] if with_scores else []))

    # -- PCA transform (FAISS "PCA,IVF" as collection config) -------------

    def _pca_shortlist(self, spark: SparkSession, qvs: list, m: int,
                       id_col: str, cfg: dict, space: str | None,
                       nprobe: int | None,
                       batch: bool = False) -> DataFrame:
        """The ``m`` best points under the space's metric in the
        COMPRESSED space — ids for one query, ``(query_idx, id)``
        pairs for a ``batch``: project each query driver-side (r
        doubles), probe the ``nprobe`` nearest compressed-space cells
        (a literal ``pcell IN`` — statically partition-pruned; a batch
        probes the union; None probes every cell, which drops
        nothing), rank the r/d-sized sidecar with the ordinary dense
        top-m plan (one sidecar pass for a whole batch). Callers
        exact-rescore the shortlist at full width via literal ``id IN``.

        Cosine spaces rank the compressed stage by EUCLID: PCA is an
        orthogonal projection, so it preserves L2 geometry — and on
        normalize-at-write collections L2 is monotone with cosine
        (``||a−b||² = 2 − 2cos``) — while compressed-space cosine
        would divide by zero for any point projecting onto the
        training mean. The rescore is the space's true metric."""
        from .operators.knn import dense_knn, dense_knn_batch
        from .operators.pca import pca_project_py

        pqs = [pca_project_py(cfg["pca_mu"], cfg["pca_w"], v) for v in qvs]
        side = _read_parquet(spark, self._pca_path_for(space))
        cents = cfg.get("pca_centroids") or []
        if cents and nprobe is not None and nprobe < len(cents):
            side = side.filter(F.col("pcell").isin(
                self._probe(spark, pqs, nprobe, batch, cents)))
        side = side.drop("pcell")
        metric = cfg.get("metric", "cosine")
        kw = dict(k=m, id_col=id_col, vec_col="pvec", payload_cols=(),
                  metric="euclid" if metric == "cosine" else metric,
                  prenormalized=False, dim=int(cfg["pca_dim"]))
        if not batch:
            return dense_knn(side, pqs[0], **kw).select(id_col)
        return dense_knn_batch(side, _query_frame(spark, pqs),
                               query_id_col="query_idx", **kw
                               ).select("query_idx", id_col)

    def _maxsim_stage1(self, corpus: DataFrame, pooled_qs: list,
                       m: int, id_col: str, vec_col: str,
                       dim: int, batch: bool = False) -> DataFrame:
        """Stage 1 of two-stage MaxSim: keep the ``m`` candidates whose
        MEAN-POOLED vector is most cosine-similar to the mean-pooled
        query. Pure Catalyst (pooling is a projection over the scan, no
        Python); one query's top-m is a TakeOrderedAndProject heap, a
        ``batch`` joins the broadcast Q-row pooled-query frame and
        keeps each query's top-m with map-side pruning (ONE pass for
        all queries). The keep-list — for a batch the UNION of the
        per-query shortlists, so each query ranks a superset of its
        own — comes back as a literal ``id IN (...)`` filter, not a
        join: the predicate pushes into the parquet scan, so stage 2's
        fetch of the heavy flat vectors is row-group-pruned instead of
        re-reading every vector byte to discard 99 %+ post-scan
        (measured at shape: BASELINE.md §MaxSim-at-shape). Exact
        MaxSim then rescores only the survivors (callers guarantee
        ``m ≥ k``).

        When the collection carries the write-time ``{vec}__pooled``
        sidecar (round 5, `_prep_vec`), stage 1 scans ONLY that
        column — dim floats/row, 1/n_vecs of the bytes; the
        compute-at-read pooling remains as the fallback for
        collections written without it (same values either way)."""
        from .functions.vector import cosine, mean_pool_flat
        from .operators.topk import global_topk, grouped_topk

        if vec_col + "__pooled" in corpus.columns:
            pooled = F.col(vec_col + "__pooled").cast("array<double>")
        else:
            pooled = mean_pool_flat(F.col(vec_col).cast("array<double>"), dim)
        if not batch:
            (pooled_q,) = pooled_qs
            qlit = F.array(*[F.lit(float(x)) for x in pooled_q])
            keep = global_topk(
                corpus.select(F.col(id_col),
                              cosine(pooled, qlit).alias("__ps")),
                [("__ps", False), (id_col, True)], m,
            ).select(id_col)
        else:
            qdf = _query_frame(corpus.sparkSession, pooled_qs, "__pq")
            scored = (corpus.select(F.col(id_col), pooled.alias("__pd"))
                      .join(F.broadcast(qdf))
                      .select(id_col, "query_idx",
                              cosine(F.col("__pd"), F.col("__pq"))
                              .alias("__ps")))
            keep = grouped_topk(scored, ["query_idx"],
                                [("__ps", False), (id_col, True)], m,
                                rank_col=None).select(id_col).distinct()
        ids = [r[id_col] for r in keep.collect()]  # ≤ Q·m rows
        return corpus.filter(literal_in(id_col, ids))

    def _mv_quant_shortlist(self, spark: SparkSession,
                            queries_flat: list, m: int,
                            id_col: str, cfg: dict,
                            space: str | None,
                            ids: list | None = None,
                            probe: list[int] | None = None,
                            batch: bool = False) -> list:
        """Quantized-tier shortlist for MULTIVECTOR spaces: rank the
        SQ codes sidecar by approximate MaxSim (decode to bucket
        centers inside the Arrow-batched scorer — the codes never
        inflate to floats JVM-side), keep the top ``m`` per query,
        return the ids (for a ``batch``, the union of the per-query
        shortlists) for the exact full-width rescore's literal
        ``IN``. Every query scores in ONE Arrow pass of the
        multi-query capture scorer (one query is element 1 of a
        one-query call — the same matmul); the leaf is a
        TakeOrderedAndProject heap for one query, map-side-pruned
        per-query top-m for a batch. The sidecar read is restricted first: to the graph
        beam's ``ids`` (hnsw_config collections), or to the probed
        ``probe`` cells (statically partition-pruned on the shared
        IVF layout), else the flat codes scan — in every case the
        bytes are 1/4 of the fp32 flat column (1/2 of fp16). Scores
        round to 6 before ranking (ties by id), the
        shortlist-determinism discipline every oracle-twinned tier
        uses (registry.py docstring)."""
        from .operators.topk import global_topk, grouped_topk

        codes = _read_parquet(spark, self._codes_path_for(space))
        if probe is not None and "centroid_id" in codes.columns:
            codes = codes.filter(
                F.col("centroid_id").isin([int(i) for i in probe]))
        if ids is not None:
            codes = codes.filter(literal_in(id_col, ids))
        arr = quantizer(cfg).maxsim(queries_flat)(F.col("codes"))
        lead = ["query_idx"] if batch else []
        scored = (codes.select(id_col, F.posexplode(arr).alias(
            "query_idx", "__s")) if batch
            else codes.select(id_col, arr[0].alias("__s")))
        scored = scored.select(id_col, *lead,
                               F.round("__s", 6).alias("score"))
        order = [("score", False), (id_col, True)]
        keep = (grouped_topk(scored, lead, order, m, rank_col=None)
                .select(id_col).distinct() if batch
                else global_topk(scored, order, m).select(id_col))
        return [r[id_col] for r in keep.collect()]

    def _post_write(self, spark: SparkSession, incoming: DataFrame | None,
                    id_col: str, vec_col: str, rewrote: bool,
                    vectors_changed: bool = True) -> None:
        """Refresh every derived layout after a main-table write. A
        payload-only write (``vectors_changed=False``: the payload
        point ops, payload-index create/drop) leaves the point set
        and every vector as they were, so only the rows that copy the
        payload (``.ivf``) re-derive; the codes, graph, postings and
        PCA sidecars hold ids and vector data only and keep their
        bytes. The drift policy then reads the fresh verdicts."""
        self._derive(spark, id_col, vec_col,
                     lambda lay: vectors_changed or lay.payload,
                     incoming=incoming, rewrote=rewrote, write=True)
        self._auto_drift(spark, id_col, vec_col)

    def _auto_drift(self, spark: SparkSession, id_col: str,
                    vec_col: str) -> None:
        """Execute the ``drift_auto`` policy after a write — the
        consumer of the cell layouts' action-typed verdicts (Qdrant
        analogy: the server's optimizer re-optimizes segments after
        writes without being asked). Policies:

        - ``None`` (default): never act — a pending verdict surfaces
          as ``info()["status"] == "yellow"`` either way.
        - ``"split"``: run ``split_hot_cells()`` when the verdict is
          ``split`` (in-place, cost ∝ hot data, probe semantics
          preserved); ``rebuild`` verdicts still only surface — a
          full retrain is never implicit under this policy.
        - ``"rebuild"``: full autonomy — retrain the layout on a
          ``rebuild`` verdict (the IVF cells as ``rebuild_index()``,
          a PCA space as ``rebuild_transform()``; then the split
          remedy once if the fresh IVF layout still has a
          legitimately-dense cell over the absolute cap), and
          ``split_hot_cells()`` on ``split`` verdicts.

        The check itself is parquet-footer math (no scan)."""
        policy = self.meta.get("drift_auto")
        if not policy:
            return
        for layout in self._layouts():
            if not layout.drift:
                continue
            action = (self._layout_drift(layout) or {}).get("action")
            if action == "rebuild" and policy == "rebuild":
                self._retrain(spark, layout, id_col, vec_col)
                action = (self._layout_drift(layout) or {}).get("action")
            if action == "split":
                self.split_hot_cells(spark, vec_col=vec_col, id_col=id_col)

    # -- S8: upsert -------------------------------------------------------

    def upsert(self, spark: SparkSession, points: DataFrame,
               mode: str = "append", id_col: str = "id",
               vec_col: str = "embedding",
               dedupe_ids: bool = True) -> None:
        sk = self.meta.get("shard_key")
        if sk and sk not in points.columns:
            raise ValueError(
                f"sharded collection requires column {sk!r} on every point")
        # Qdrant keeps ONE point per id even when a single upsert
        # batch repeats an id (PointsList semantics: later entries
        # overwrite earlier ones). A DataFrame has no row order, so
        # the engine keeps an unspecified-but-single row per id —
        # callers that care which payload survives must pre-dedupe
        # deterministically. Without this, batch-internal dup ids
        # append as two rows and break the id-uniqueness every point
        # op relies on (first surfaced by the sf0.1 fixture's
        # duplicate texts under content-hash ids). The dedup is one
        # shuffle on the id; producers whose ids are unique by
        # construction (uuid point ids, a stream's keyed micro-batch)
        # may pass dedupe_ids=False to keep the append shuffle-free.
        if dedupe_ids:
            points = points.dropDuplicates([id_col])
        sparse_missing = [
            n + suf for n in (self.meta.get("sparse_vectors") or ())
            for suf in ("__sidx", "__sval") if n + suf not in points.columns]
        if sparse_missing:
            raise ValueError(
                f"missing sparse vector columns: {sparse_missing}")
        named = self.meta.get("vectors")
        # dim validation rides the write for the atomic paths (fresh
        # collection, plain append — an aborted write job leaves no
        # state change); merge into existing data keeps the eager
        # pre-write check because _scoped_rewrite mutates files before
        # the append evaluates the guard
        defer = not (mode == "merge" and self._has_data(spark))
        if named:
            missing = [n for n in named if n not in points.columns]
            if missing:
                raise ValueError(f"missing vector columns: {missing}")
            for name in named:
                points = self._prep_vec(
                    points, self._vector_cfg(name, vec_col), self.path,
                    defer_dim_check=defer)
        else:
            points = self._prep_vec(
                points, self._vector_cfg(None, vec_col), self.path,
                defer_dim_check=defer)
        if self._has_data(spark):
            # schema alignment for pre-round-5 collections: never
            # append a `__pooled` sidecar the existing files lack —
            # a part-table sidecar would read as NULL on old rows and
            # silently drop them from stage 1. Such collections keep
            # the compute-at-read fallback until a full rewrite.
            existing_cols = set(_read_parquet(spark, self.path).columns)
            stale = [c for c in points.columns
                     if c.endswith("__pooled") and c not in existing_cols]
            if stale:
                points = points.drop(*stale)
            # ...and the REVERSE direction must hard-fail: a batch
            # that lacks a sidecar the existing files carry (e.g. raw
            # fp16 binary points taking `_prep_vec`'s BinaryType
            # early-return without `__pooled`/`n_vecs`) would append a
            # divergent file schema whose rows read NULL in the
            # sidecar — silently invisible to stage 1 of
            # search(rescore=) and to routed coarse search. Appending
            # part-table schema is never recoverable later, so refuse.
            sidecars = {c for c in existing_cols
                        if c.endswith("__pooled") or c.endswith("__nv")
                        or c == "n_vecs"}
            lacking = sorted(sidecars - set(points.columns))
            if lacking:
                raise ValueError(
                    f"points batch is missing sidecar column(s) "
                    f"{lacking} present in collection {self.name!r}; "
                    "re-upserted rows must carry every vector sidecar "
                    "(read them back via Collection.read, or supply "
                    "nested multivectors and let the write path derive "
                    "the sidecars)")
        if mode == "merge" and self._has_data(spark):
            existing = _read_parquet(spark, self.path)
            incoming_ids = points.select(id_col)
            # replace-on-conflict (Qdrant upsert overwrites by id),
            # through the SHARED file-scoped machinery
            # (`_scoped_rewrite` — one implementation for merge and
            # every point op): only the files containing a conflicting
            # id have their kept (non-conflicting) rows rewritten — a
            # file-level analog of Delta MERGE's rewrite set; every
            # other data file is untouched bytes. With a payload-index
            # ``partitionBy`` layout the staged writer routes kept rows
            # back into their partition dirs, so the blast radius is
            # (files with conflicts), not (table) — at 100 TB an
            # id-colliding upsert touches a handful of files. The
            # no-conflict merge remains a plain append, and the
            # index/quantization refresh waits for the append
            # (post_write=False).
            n_conflicts = self._scoped_rewrite(
                spark, incoming_ids,
                lambda kept: kept.join(incoming_ids, on=id_col,
                                       how="left_anti"),
                id_col, vec_col, post_write=False)
            if n_conflicts:
                self._write_main(points.select(*existing.columns), "append")
                self._post_write(spark, None, id_col, vec_col,
                                 rewrote=True)
                return
        self._write_main(points, "append")
        self._post_write(spark, points, id_col, vec_col, rewrote=False)

    def _swap_staged_files(self, staging: str, old_files: list) -> None:
        """Complete a file-scoped rewrite: delete the superseded data
        files, then move every staged parquet file into the matching
        (partition) subdirectory of the main table."""
        from urllib.parse import unquote, urlparse

        for uri in old_files:
            p = urlparse(uri)
            local = unquote(p.path) if p.scheme in ("file", "") else None
            if local and os.path.isfile(local):
                os.remove(local)
        for root, _dirs, files in os.walk(staging):
            rel = os.path.relpath(root, staging)
            for fname in files:
                if not fname.endswith(".parquet"):
                    continue  # _SUCCESS and friends
                dest_dir = (self.path if rel == "."
                            else os.path.join(self.path, rel))
                os.makedirs(dest_dir, exist_ok=True)
                os.rename(os.path.join(root, fname),
                          os.path.join(dest_dir, fname))
        shutil.rmtree(staging, ignore_errors=True)

    def _write_main(self, df: DataFrame, mode: str,
                    path: str | None = None) -> None:
        """Every main-table write goes through here so the payload-
        index layout (``partitionBy`` on the indexed fields) survives
        appends, merges, and rewrites alike."""
        w = df.write.mode(mode)
        idx = [c for c in (self.meta.get("payload_indexes") or [])
               if c in df.columns]
        if idx:
            w = w.partitionBy(*idx)
        try:
            w.parquet(path or self.path)
        except Exception as exc:  # deferred _prep_vec dim guard
            txt = str(exc)
            pos = txt.find("vector dimension mismatch")
            if pos < 0:
                raise
            end = len(txt)
            for stop in ("\n", '"', "'", " SQLSTATE"):
                cut = txt.find(stop, pos)
                if cut != -1:
                    end = min(end, cut)
            raise ValueError(txt[pos:end]) from None

    def create_payload_index(self, spark: SparkSession, field: str,
                             id_col: str = "id",
                             vec_col: str = "embedding") -> None:
        """Qdrant's ``create_payload_index`` analog. A payload index in
        a columnar engine *is* the storage layout: the table is
        rewritten ``partitionBy(field)``, so every later search whose
        filter constrains the field prunes partitions statically — the
        scan never opens non-matching files (Qdrant's index skips
        points; this skips whole files). Subsequent upserts keep the
        layout. Best for low-cardinality categorical fields; at 100 TB
        a second index field multiplies directories, so order indexes
        coarsest-first (same rule as any Hive-style layout)."""
        if field in self._vector_columns(vec_col) | {id_col, "n_vecs"}:
            raise ValueError(f"cannot index reserved column {field!r}")
        idx = self.meta.setdefault("payload_indexes", [])
        if field in idx:
            return
        table = None
        if self._has_data(spark):
            table = self.read(spark)
            if field not in table.columns:
                raise ValueError(f"unknown payload field {field!r}")
        idx.append(field)
        self._save_meta()
        if table is not None:
            self._rewrite(spark, table, id_col, vec_col,
                          vectors_changed=False)

    def drop_payload_index(self, spark: SparkSession, field: str,
                           id_col: str = "id",
                           vec_col: str = "embedding") -> None:
        """Remove a payload index: un-partition the layout."""
        if field == self.meta.get("shard_key"):
            raise ValueError("cannot drop the shard key's layout")
        idx = self.meta.get("payload_indexes") or []
        if field not in idx:
            return
        idx.remove(field)
        self._save_meta()
        if self._has_data(spark):
            self._rewrite(spark, self.read(spark), id_col, vec_col,
                          vectors_changed=False)

    def _has_data(self, spark: SparkSession) -> bool:
        # driver-side file check: the catalog layout is a local
        # directory tree (every write/rewrite path os.renames staged
        # files), so "has data" ≡ "some .parquet file exists under the
        # root". The previous schema-read raised and converted a JVM
        # AnalysisException on every fresh collection (~70 ms × 3
        # calls per upsert, measured).
        for _root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _shard_predicate(self, selector) -> Column | None:
        """shard_key_selector -> pushed-down partition predicate
        (Qdrant routes the request to named shards; here the declared
        shard-key column leads the partition layout, so this filter is
        a static partition prune)."""
        if selector is None:
            return None
        sk = self.meta.get("shard_key")
        if not sk:
            raise ValueError("collection was created without a shard key")
        sel = (list(selector) if isinstance(selector, (list, tuple, set))
               else [selector])
        return F.col(sk).isin(sel)

    def _with_shards(self, query_filter, selector) -> Column | None:
        """``query_filter`` (any form ``as_predicate`` takes) AND the
        shard prune of ``selector`` — every read surface that takes a
        ``shard_key_selector`` narrows through this."""
        pred = as_predicate(query_filter)
        shard_pred = self._shard_predicate(selector)
        if shard_pred is None:
            return pred
        return shard_pred if pred is None else shard_pred & pred

    # -- query_points analog ---------------------------------------------

    def _pruned_postings(self, spark: SparkSession, name: str,
                         terms, id_col: str) -> DataFrame | None:
        """The probe side of the posting layout: None when the space
        has no built layout, else the layout scan pruned to the query
        terms — ``bucket IN (term buckets)`` is a STATIC partition
        prune (only those directories are listed) and
        ``idx IN (terms)`` pushes to parquet row-group min/max (files
        are idx-sorted), so a probe reads ~the query terms' posting
        lists, never the corpus. Plan pinned in tests/test_plans.py."""
        cfg = self.meta["sparse_vectors"][name]
        if not cfg.get("postings_built"):
            return None
        path = self._postings_path_for(name)
        if not os.path.isdir(path):
            return None
        tset = sorted({int(t) for t in terms})
        buckets = sorted({t % self._POSTING_BUCKETS for t in tset})
        return (_read_parquet(spark, path)
                .filter(F.col("bucket").isin(buckets))
                .filter(F.col("idx").isin(tset))
                .select(id_col, "idx", "val"))

    def _pruned_df_stats(self, spark: SparkSession, name: str,
                         terms) -> DataFrame | None:
        """The (idx, df) sidecar the posting write maintains, pruned
        to the query terms — index-time IDF statistics (the Qdrant
        contract), so a search joins ≤|q| df rows instead of
        aggregating over the probed posting lists. None for layouts
        written before the sidecar existed (the scorer then falls back
        to the query-time agg, value-identical)."""
        path = self._postings_path_for(name) + ".df"
        if not os.path.isdir(path):
            return None
        tset = sorted({int(t) for t in terms})
        return _read_parquet(spark, path).filter(F.col("idx").isin(tset))

    def _sparse_search(self, spark: SparkSession, query_vectors: list,
                       name: str, k: int = 5, query_filter=None,
                       score_threshold=None, id_col: str = "id",
                       offset: int = 0, with_vectors: bool = False,
                       batch: bool = False) -> DataFrame:
        """Search one sparse space (Qdrant ``query=SparseVector(...)``
        + ``using=<sparse name>``). Each query is ``(indices, values)``
        or ``{"indices": ..., "values": ...}``; scoring is the sparse
        dot product via the broadcast-pruned posting explode
        (`operators/sparse.py::sparse_knn`; a ``batch`` shares ONE
        posting pass, `sparse_knn_batch`, results tagged
        ``query_idx``), with the space's declared ``modifier`` applied
        — IDF statistics always come from the WHOLE collection (Qdrant
        computes them at index time), so a request filter narrows
        candidates without changing df/N. Payload joins back onto the
        ≤k+offset-row hit list (broadcast); the corpus never
        re-shuffles."""
        from pyspark.sql import Window

        from .operators.sparse import sparse_knn, sparse_knn_batch

        qs = [(q["indices"], q["values"]) if isinstance(q, dict)
              else (list(q[0]), list(q[1])) for q in query_vectors]
        if not batch and len(qs[0][0]) != len(qs[0][1]):
            raise ValueError("sparse query indices/values length mismatch")
        idx_c, val_c = name + "__sidx", name + "__sval"
        table = self.read(spark)
        query_filter = as_predicate(query_filter)
        scfg = self.meta["sparse_vectors"][name]
        terms = {int(t) for qi, _ in qs for t in qi}
        # a filtered batch keeps the array form: per-request candidate
        # joins would fan out
        posting = (self._pruned_postings(spark, name, terms, id_col)
                   if query_filter is None or not batch else None)
        if posting is not None:
            # layout probe: postings already collection-wide, so IDF
            # stats need no separate frame; a filter restricts the
            # CANDIDATES via an id join (df/N unchanged)
            src, kw = None, dict(
                postings=posting,
                df_stats=self._pruned_df_stats(spark, name, terms),
                n_points=scfg.get("n_points"))
            if query_filter is not None:
                kw["candidates"] = (table.filter(F.col(idx_c).isNotNull())
                                    .filter(query_filter).select(id_col))
        else:
            full = table.filter(F.col(idx_c).isNotNull()).select(
                F.col(id_col), F.col(idx_c).alias("indices"),
                F.col(val_c).alias("values"))
            src = full if query_filter is None else (
                table.filter(F.col(idx_c).isNotNull()).filter(query_filter)
                .select(F.col(id_col), F.col(idx_c).alias("indices"),
                        F.col(val_c).alias("values")))
            kw = dict(stats_corpus=full if (scfg.get("modifier")
                                            and query_filter is not None)
                      else None)
        if batch:
            hits = sparse_knn_batch(src, qs, k=k, id_col=id_col,
                                    modifier=scfg.get("modifier"), **kw)
        else:
            hits = sparse_knn(src, list(qs[0][0]), list(qs[0][1]),
                              k=k + (offset or 0), id_col=id_col,
                              modifier=scfg.get("modifier"), **kw)
        if score_threshold is not None:
            hits = hits.filter(F.col("score") >= score_threshold)
        if offset:
            w = Window.orderBy(F.col("score").desc(), F.col(id_col))
            hits = (hits.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") > offset).drop("__rn"))
        drop = self._vector_columns()
        if with_vectors:
            drop = drop - {idx_c, val_c}
        side = table.select(*[c for c in table.columns if c not in drop
                              or c == id_col])
        out = side.join(F.broadcast(hits), on=id_col)
        return out.orderBy(*(["query_idx"] if batch else []),
                           F.col("score").desc(), F.col(id_col))

    def search(self, spark: SparkSession, query_vector: list,
               k: int = 5, query_filter=None, score_threshold=None,
               id_col: str = "id", vec_col: str = "embedding",
               nprobe: int | None = None, exact: bool = False,
               using: str | None = None, oversampling: float = 4.0,
               offset: int = 0, shard_key_selector=None,
               rescore: int | None = None, formula: str | None = None,
               prefetch_limit: int | None = None,
               recall_target: float | None = None,
               with_vectors: bool = False,
               with_payload=True,
               quantization_params: dict | None = None,
               hnsw_ef: int | None = None):
        """The engine's ``client.query_points``
        (``with_vdr-2b-multi-v1/query_vdr_2b_multi_v1.py:78-83``):
        top-k by the collection's declared metric/comparator, with the
        optional payload filter Qdrant declares but the reference never
        uses (F4), and score_threshold. Dispatches on the collection
        config: dense cosine (dot if normalize-at-write is on) vs
        multivector MaxSim. Both branches honor
        ``query_filter``/``score_threshold`` and project payload
        columns (the multivector call surface is identical in the
        reference, ``qdrant_query_with_colpali.py:109-114``). The tier
        comes from `search_plan.plan_search`, the same planner
        :meth:`search_batch` uses; a single search runs its
        single-query operator leaves (TakeOrderedAndProject, literal
        shortlists).

        For ``normalize`` collections the query vector is L2-normalized
        here (per subvector on the multivector path) — Qdrant does the
        same server-side for COSINE, so scores are true cosine and
        ``score_threshold`` means what the caller thinks it means.

        Multivector collections accept ``rescore=N``: two-stage MaxSim
        (the production ColBERT/PLAID pattern, SURVEY.md §4) — a
        mean-pooled cosine prefilter keeps the best ``max(N, k)``
        candidates, then exact MaxSim rescores only those. At 100 TB
        the prune turns an O(N·|Q|·|D|) matmul pass into O(N·d) +
        O(rescore·|Q|·|D|). It is opt-in, not the default, because its
        recall depends on how well mean-pooling preserves ranking:
        near-perfect on real late-interaction embeddings (PLAID's
        premise), provably poor on isotropic-random vectors (the
        synthetic fixture needs depth ≈ 0.8·N — measured, see
        tests/test_maxsim.py::test_two_stage_rescore_matches_exact).
        An engine must not silently trade top-k correctness for speed,
        so the default stays exact. The payload filter runs BEFORE
        stage 1, so filtered searches keep full candidate depth within
        the filtered slice.

        ``formula=`` (Qdrant FormulaQuery / score boosting): a SQL
        expression over the prescore (``score``) and payload columns —
        e.g. ``"0.7 * score + 0.3 * popularity"`` or the decay helpers
        in ``operators/formula.py``. The engine prefetches
        ``prefetch_limit`` (default ``max(50, 10k)``) hits with the
        collection's metric, rescores that shortlist with the formula
        in one Catalyst projection, and returns top-k by the formula
        value (as ``score``, ranked descending — Qdrant's formula
        semantics). ``offset`` pages the boosted order.

        ``recall_target=`` (routing.py): state the recall you need and
        the engine picks the tier + knobs from its measured curves —
        exact below ``indexing_threshold`` (Qdrant's own deferred-
        index behavior), IVF ``nprobe`` scaled to the collection's
        cell count for indexed collections, the proven oversampling
        point for quantized ones, and the exact scan at ≥0.999
        (measurements are not proofs). Explicit ``exact``/``nprobe``
        always win; the target fills only what was left unset."""
        return self._query_points(
            spark, [query_vector], None,
            SearchKnobs(k, exact, nprobe, oversampling, rescore,
                        recall_target, quantization_params, hnsw_ef,
                        formula),
            query_filter, score_threshold, id_col, vec_col, using,
            with_vectors, with_payload, shard_key_selector, offset,
            prefetch_limit)

    def search_batch(self, spark: SparkSession,
                     query_vectors: list, k: int = 5,
                     query_filter=None, score_threshold=None,
                     id_col: str = "id", vec_col: str = "embedding",
                     nprobe: int | None = None,
                     exact: bool = False,
                     using: str | None = None,
                     oversampling: float = 4.0,
                     rescore: int | None = None,
                     recall_target: float | None = None,
                     with_vectors: bool = False,
                     with_payload=True,
                     quantization_params: dict | None = None,
                     hnsw_ef: int | None = None
                     ) -> DataFrame:
        """Qdrant's ``query_batch_points`` analog: one result frame
        keyed by ``query_idx``, ranked per query. All queries share ONE
        corpus pass (broadcast query set + per-group top-k with
        map-side pruning) — N queries cost one scan, not N. With an IVF
        layout, the scan prunes to the *union* of every query's nprobe
        cells (still a literal IN — static partition pruning); graph,
        codes and PCA shortlists rank every query in one sidecar pass
        and each query rescores only ITS candidate pairs. The tier
        comes from the same planner as :meth:`search`, so
        ``recall_target=`` / ``quantization_params=`` / ``hnsw_ef=``
        route exactly as there (the whole batch shares one resolved
        tier — per-query tiers would defeat the single-pass plan).
        ``query_filter`` may be a list with one filter per query
        (Qdrant's per-request filters, dense spaces)."""
        qs = list(query_vectors)
        return self._query_points(
            spark, qs, len(qs),
            SearchKnobs(k, exact, nprobe, oversampling, rescore,
                        recall_target, quantization_params, hnsw_ef),
            query_filter, score_threshold, id_col, vec_col, using,
            with_vectors, with_payload)

    def _query_points(self, spark: SparkSession, qs: list,
                      n_queries: int | None, knobs: SearchKnobs,
                      query_filter, score_threshold, id_col: str,
                      vec_col: str, using: str | None, with_vectors,
                      with_payload, shard_key_selector=None,
                      offset: int = 0,
                      prefetch_limit: int | None = None) -> DataFrame:
        """The one front door of :meth:`search` (``n_queries`` None)
        and :meth:`search_batch`. Handles, for Q ≥ 1 queries: the
        sparse-space dispatch, Qdrant's ``with_payload`` selector, and
        the ``with_vectors`` vector-name list (search plain, then
        attach exactly the named spaces' columns — ≤k-row result side
        broadcast, ordering restored per query)."""
        batch = n_queries is not None
        pick = isinstance(with_vectors, (list, tuple, set))
        wv = False if pick else with_vectors
        sparse = self._sparse_space(using)
        if sparse:
            plan_search({"sparse": True}, replace(
                knobs, per_query=batch and isinstance(query_filter,
                                                      (list, tuple))),
                n_queries)
            out = self._sparse_search(
                spark, qs, sparse, k=knobs.k,
                query_filter=self._with_shards(query_filter,
                                               shard_key_selector),
                score_threshold=score_threshold, id_col=id_col,
                offset=offset, with_vectors=wv, batch=batch)
        elif batch:
            out = self._search_planned(
                spark, qs, n_queries, knobs, query_filter,
                score_threshold, id_col, vec_col, using, wv)
        else:
            out = self._search_one(
                spark, qs[0], knobs, query_filter, score_threshold,
                id_col, vec_col, using, wv, shard_key_selector, offset,
                prefetch_limit)
        if with_payload is not True:
            out = self._apply_with_payload(out, with_payload, id_col,
                                           vec_col)
        if pick:
            out = self._attach_query_vectors(
                spark, out, with_vectors, using, vec_col, id_col,
                [("query_idx", True)] * batch + self._result_order(
                    qs[0], using, vec_col, None, knobs.formula, id_col))
        return out

    def _search_one(self, spark: SparkSession, query_vector,
                    knobs: SearchKnobs, query_filter, score_threshold,
                    id_col: str, vec_col: str, using: str | None,
                    with_vectors: bool, shard_key_selector, offset: int,
                    prefetch_limit: int | None) -> DataFrame:
        """The single-search-only features around the planned search:
        query-by-id, ``formula`` rescoring (with ``prefetch_limit``)
        and ``offset`` paging. The formula/offset prefetch runs with
        the recall-target knobs already resolved."""
        from pyspark.sql import Window

        if isinstance(query_vector, (int, str)):
            # Qdrant query-by-id (``query_points(query=point_id)``):
            # search with the point's STORED vector and exclude the
            # point itself from the results
            query_filter = _excluding(query_filter, id_col, [query_vector])
            query_vector = self._examples(spark, [query_vector], id_col,
                                          vec_col, using, "query-by-id")[0]
        args = (query_filter, score_threshold, id_col, vec_col, using)
        k, formula = knobs.k, knobs.formula
        if formula is None and not offset:
            return self._search_planned(spark, [query_vector], None, knobs,
                                        *args, with_vectors,
                                        shard_key_selector)
        if knobs.recall_target is not None:
            knobs = replace(overlay_recall(self._plan_facts(
                self._vector_cfg(using, vec_col)), knobs),
                recall_target=None)
        if k is None:
            raise ValueError("formula rescoring requires a finite k"
                             if formula is not None
                             else "offset requires a finite k")
        if formula is not None:
            # Qdrant FormulaQuery: prefetch with the collection's
            # metric, rescore the shortlist with a formula over the
            # prescore (`score`) and payload fields in one Catalyst
            # projection; offset pages the BOOSTED order, so the
            # prefetch depth covers the whole paged range
            from .operators.formula import formula_rescore

            pre = self._search_planned(
                spark, [query_vector], None, replace(
                    knobs, formula=None, k=prefetch_limit
                    if prefetch_limit is not None
                    else max(50, (k + offset) * 10)),
                *args, False, shard_key_selector)
            out = formula_rescore(
                pre, formula, k=k + offset, id_col=id_col,
                boosted_col="score",
                payload_cols=[c for c in pre.columns
                              if c not in (id_col, "score")])
        else:
            out = self._search_planned(
                spark, [query_vector], None, replace(knobs, k=k + offset),
                *args, False, shard_key_selector)
        if not offset:
            return out
        w = Window.orderBy(*order_cols(self._result_order(
            query_vector, using, vec_col, None, formula, id_col)))
        return (out.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") > offset).drop("__rn"))

    def _plan_facts(self, cfg: dict) -> dict:
        """The searched space's config plus the layout facts the
        planner reads (`search_plan.plan_search`)."""
        return {**cfg, "indexed": self.has_index(),
                "graphs": (self._has_hnsw()
                           and os.path.isdir(self._hnsw_graphs)),
                "hnsw_config": bool(self.meta.get("hnsw")),
                "collection_quantization": self.meta.get("quantization"),
                "graph_quantized": self._hnsw_quant_parts() is not None,
                "n_cells": int(self.meta.get("k_centroids") or 16)}

    def _search_planned(self, spark: SparkSession, qs: list,
                        n_queries: int | None, knobs: SearchKnobs,
                        query_filter, score_threshold, id_col: str,
                        vec_col: str, using: str | None,
                        with_vectors: bool,
                        shard_key_selector=None) -> DataFrame:
        """Plan one dense or multivector search and run it for Q ≥ 1
        query vectors. The shared filter ANDs with the shard-key
        predicate; a batch's per-query filter list compiles to ONE
        CASE-over-query_idx predicate on the scored rows (scoring is
        row-local, so filtering candidates before or after scoring is
        the same set; the scan can't prune on a per-query predicate,
        so the single-pass plan is preserved). A point without the
        searched space's vector is not searchable in it (Qdrant
        semantics; the IsNotNull pushes to the scan). With
        ``with_vectors`` the space's stored vector rides along as an
        output column (sidecars stay internal)."""
        cfg = self._vector_cfg(using, vec_col)
        vec_col = cfg["vec_col"]
        per_query = None
        if n_queries is not None and isinstance(query_filter, (list, tuple)):
            if len(query_filter) != len(qs):
                raise ValueError(f"{len(query_filter)} filters for "
                                 f"{len(qs)} query vectors")
            per_query = F.lit(False)
            for i, f in enumerate(query_filter):
                p = as_predicate(f)
                per_query = F.when(
                    F.col("query_idx") == i,
                    F.lit(True) if p is None else p).otherwise(per_query)
            query_filter = None
        query_filter = self._with_shards(query_filter, shard_key_selector)
        corpus = self.read(spark).filter(F.col(vec_col).isNotNull())
        plan = plan_search(
            self._plan_facts(cfg),
            replace(knobs, filtered=query_filter is not None,
                    per_query=per_query is not None),
            n_queries, lambda: self._hnsw_filter_stats(corpus, query_filter))
        not_payload = self._vector_columns(vec_col) | {id_col}
        if with_vectors:
            not_payload -= {vec_col}
        if plan.multivector:
            return self._run_maxsim(spark, plan, qs, cfg, corpus,
                                    query_filter, score_threshold, id_col,
                                    not_payload, knobs.k)
        return self._run_dense(spark, plan, qs, cfg, corpus, query_filter,
                               per_query, score_threshold, id_col,
                               not_payload, knobs.k)

    def _probe(self, spark: SparkSession, qvs: list, nprobe: int | None,
               batch: bool = False, cents: list | None = None) -> list[int]:
        """The nearest-``nprobe`` cells of ``cents`` (default: the IVF
        centroids; None nprobe: every cell — exhaustive probe ≡ exact
        scan), picked driver-side and returned as literal ints so every
        downstream scan filter is statically partition-pruned: one
        query's cells nearest first, a batch's sorted union."""
        cents = self._centroids(spark) if cents is None else cents
        np_ = len(cents) if nprobe is None else nprobe
        cells = nearest_np(qvs, cents, np_)[1]
        if not batch:
            return [int(i) for i in cells[0]]
        return sorted({int(i) for i in cells.ravel()})

    def _hnsw_walk(self, spark: SparkSession, route_qvs: list,
                   walk_qvs: list, plan: SearchPlan, id_type: str,
                   normalize: bool, decode=None) -> list:
        """Per-segment HNSW beam search over each query's probed cells
        (partition-pruned read of the graph sidecar, beam ``plan.ef``
        per segment) → candidate rows. A batch shares one pass over the
        probe-union of the sidecar (and one deserialize per segment)
        while every query walks only ITS cells; its rows carry
        ``query_id``."""
        from .operators.hnsw import (
            hnsw_layout_search,
            hnsw_layout_search_batch,
        )

        graphs = _read_parquet(spark, self._hnsw_graphs)
        # list the segment directory ONCE for a batch — per-query
        # listdir would scan O(batch × segments) entries
        names = (os.listdir(self._hnsw_graphs) if plan.batch and (
            self.meta.get("hnsw") or {}).get("max_segment_size") else None)
        segs = [self._hnsw_segments(self._probe(spark, [v], plan.nprobe),
                                    names=names) for v in route_qvs]
        kw = dict(ef=plan.ef, id_type=id_type, normalize=normalize,
                  decode=decode)
        if plan.batch:
            return hnsw_layout_search_batch(
                graphs, list(enumerate(walk_qvs)),
                query_segments=dict(enumerate(segs)), **kw).collect()
        return hnsw_layout_search(graphs, walk_qvs[0], segments=segs[0],
                                  **kw).collect()

    def _run_dense(self, spark: SparkSession, plan: SearchPlan, qs: list,
                   cfg: dict, corpus: DataFrame, query_filter, per_query,
                   score_threshold, id_col: str, not_payload: set,
                   k: int | None) -> DataFrame:
        """Run a dense plan. Shortlist tiers narrow the corpus before
        the exact rescore: one query by a literal ``id IN`` (row-group
        pruned main-table fetch; the flat codes shortlist joins
        broadcast), a batch by ``include_pairs`` — each query rescores
        only ITS candidates — plus the distinct-id ``IN``. The leaf is
        ``dense_knn`` with the query as an array literal (no join;
        TakeOrderedAndProject) for one query and ``dense_knn_batch``
        over the broadcast query frame (grouped top-k) for a batch."""
        from .operators.knn import dense_knn, dense_knn_batch

        vec_col, batch = cfg["vec_col"], plan.batch
        qvs = [[float(x) for x in v] for v in qs]
        if cfg.get("normalize"):
            qvs = [_unit(v) for v in qvs]
        space = vec_col if self.meta.get("vectors") else None
        include_pairs = None
        if plan.tier == "noscore":
            # QuantizationSearchParams(rescore=False): the codes
            # ranking IS the result; payload joins back onto the
            # ≤k-row hit list, the corpus fetch semi-join-pruned to it
            hits = short = self._quant_shortlist(
                spark, qvs, k, id_col, probe_ids=self._probe(
                    spark, qvs, plan.nprobe, batch)
                if plan.probe_codes else None,
                cfg=cfg, space=space, with_scores=True, batch=batch)
            if score_threshold is not None:
                hits = short = short.filter(F.col("score") >= score_threshold)
            payload = [c for c in corpus.columns if c not in not_payload]
            if payload:
                ids = short.select(id_col)
                pay = corpus.select(id_col, *payload).join(
                    F.broadcast(ids.distinct() if batch else ids),
                    on=id_col)
                hits = short.join(F.broadcast(pay), on=id_col, how="left")
            return hits.orderBy(
                *([F.col("query_idx").asc()] if batch else []),
                F.col("score").desc(), F.col(id_col).asc())
        if plan.tier in ("pca", "composed", "quant"):
            # rank the compressed sidecar (PCA projection, or the 4-32×
            # smaller codes — probed cells only when composed with the
            # IVF layout), exact-rescore the oversampled shortlist
            if plan.tier == "pca":
                short = self._pca_shortlist(spark, qvs, plan.m, id_col, cfg,
                                            space, plan.nprobe, batch)
            else:
                short = self._quant_shortlist(
                    spark, qvs, plan.m, id_col, probe_ids=self._probe(
                        spark, qvs, plan.nprobe, batch)
                    if plan.tier == "composed" else None,
                    cfg=cfg, space=space, batch=batch)
            if batch:
                include_pairs = local_literal_df(spark, short.collect(),
                                                 short.schema)
                short = include_pairs.select(id_col).distinct()
            if plan.tier == "quant" and not batch:
                corpus = corpus.join(F.broadcast(short), on=id_col)
            else:
                corpus = corpus.filter(literal_in(
                    id_col, [r[id_col] for r in short.collect()]))
        elif plan.tier == "hnsw":
            # walk the probed cells' graphs instead of scanning them,
            # exact-rescore the bounded candidate union. Quantized
            # collections walk graphs built over the CODES sidecar
            # (decoded per segment, _hnsw_quant_parts)
            gq = self._hnsw_quant_parts()
            id_type = corpus.schema[id_col].dataType.simpleString()
            cand = self._hnsw_walk(
                spark, qvs, qvs if gq is None
                else [quantizer(cfg).query(v) for v in qvs], plan,
                id_type, cfg.get("metric", "cosine") == "cosine"
                if gq is None else True, None if gq is None else gq[2])
            if batch:
                include_pairs = local_literal_df(
                    spark, [(int(r["query_id"]), r["vec_id"]) for r in cand],
                    f"query_idx int, {id_col} {id_type}")
            corpus = corpus.filter(literal_in(
                id_col, sorted({r["vec_id"] for r in cand})))
        elif plan.tier == "ivf":
            corpus = self._ivf_scan(spark, qvs, plan.nprobe, batch)
        payload = [c for c in corpus.columns if c not in not_payload]
        kw = dict(k=k, id_col=id_col, vec_col=vec_col, payload_cols=payload,
                  prefilter=query_filter, score_threshold=score_threshold,
                  prenormalized=bool(cfg.get("normalize")),
                  dim=cfg.get("dim"), metric=cfg.get("metric", "cosine"))
        if not batch:
            return dense_knn(corpus, qvs[0], **kw)
        return dense_knn_batch(
            corpus, _query_frame(spark, qvs), query_id_col="query_idx",
            include_pairs=include_pairs, per_query_filter=per_query, **kw)

    def _ivf_scan(self, spark: SparkSession, qvs: list,
                  nprobe: int | None, batch: bool) -> DataFrame:
        """The IVF layout scan reduced to a literal ``centroid_id IN
        (...)`` — statically partition-pruned on the
        partitionBy(centroid_id) layout."""
        return _read_parquet(spark, self._ivf_points).filter(
            F.col("centroid_id").isin(self._probe(spark, qvs, nprobe, batch))
        ).drop("centroid_id")

    def _run_maxsim(self, spark: SparkSession, plan: SearchPlan, qs: list,
                    cfg: dict, corpus: DataFrame, query_filter,
                    score_threshold, id_col: str, not_payload: set,
                    k: int | None) -> DataFrame:
        """Run a multivector plan: route on the mean-pooled query (the
        cells were carved, and the graphs built, over mean-pooled doc
        vectors), apply the filter (before any shortlist, so its depth
        is spent inside the filtered slice), shortlist, then exact
        MaxSim with the query set captured in the scorer closure —
        never joined on as a column, so the scan carries only doc bytes
        (at ColPali shape a query array is tens of KB per row,
        BASELINE.md §MaxSim-at-shape) and docs cross Arrow once
        regardless of Q."""
        from .operators.maxsim import maxsim_knn, maxsim_knn_batch

        vec_col, dim, batch = cfg["vec_col"], cfg.get("dim"), plan.batch
        qvs = [[[float(x) for x in v] for v in q] for q in qs]
        if cfg.get("normalize"):
            qvs = [[_unit(v) for v in q] for q in qvs]
        flats = [[x for v in q for x in v] for q in qvs]
        pooled = [[sum(v[j] for v in q) / len(q) for j in range(len(q[0]))]
                  for q in qvs]
        payload = [c for c in corpus.columns if c not in not_payload]
        if _is_nested(corpus, vec_col):  # compatibility reader
            if batch:
                raise ValueError("batched MaxSim needs the flat layout; "
                                 "re-upsert or loop search()")
            qdf = local_literal_df(
                spark, [(qvs[0],)], "query_vectors array<array<double>>")
            return maxsim_knn(
                corpus, qdf, k=k, id_col=id_col, mv_col=vec_col,
                payload_cols=payload, prefilter=query_filter,
                score_threshold=score_threshold)
        cand_ids = None
        if plan.tier == "hnsw":
            # the reference's ACTUAL configuration: the beam over the
            # pooled routing graphs IS stage 1 — its candidates go
            # straight to exact MaxSim
            cand = self._hnsw_walk(
                spark, pooled, pooled, plan,
                corpus.schema[id_col].dataType.simpleString(),
                cfg.get("metric", "cosine") == "cosine")
            cand_ids = sorted({r["vec_id"] for r in cand})
            corpus = corpus.filter(literal_in(id_col, cand_ids))
        elif plan.tier == "ivf":
            corpus = self._ivf_scan(spark, pooled, plan.nprobe, batch)
        if query_filter is not None:
            corpus = corpus.filter(query_filter)
        if plan.shortlist == "codes":
            # rank the int8 codes by approximate MaxSim — restricted to
            # the beam's candidates or the probed cells — and exact-
            # rescore ONLY the shortlist at full width
            short = self._mv_quant_shortlist(
                spark, flats, plan.m, id_col, cfg,
                vec_col if self.meta.get("vectors") else None,
                ids=cand_ids, probe=self._probe(spark, pooled, plan.nprobe)
                if plan.probe_codes else None, batch=batch)
            corpus = corpus.filter(literal_in(id_col, short))
        elif plan.shortlist == "pooled":
            corpus = self._maxsim_stage1(corpus, pooled, plan.m, id_col,
                                         vec_col, dim, batch=batch)
        kw = dict(k=k, id_col=id_col, mv_col=vec_col, payload_cols=payload,
                  score_threshold=score_threshold, flat_dim=dim)
        if batch:
            return maxsim_knn_batch(corpus, None, queries_flat=flats, **kw)
        return maxsim_knn(corpus, None, query_flat=flats[0], **kw)

    def _ranks_ascending(self, using: str | None, vec_col: str) -> bool:
        """Whether a space's scores rank ascending (distance metrics)
        — sparse spaces are dot products, always descending."""
        from .operators.knn import _DISTANCE_METRICS

        if using in (self.meta.get("sparse_vectors") or {}):
            return False
        return (self._vector_cfg(using, vec_col)
                .get("metric", "cosine") in _DISTANCE_METRICS)

    def _result_order(self, query, using: str | None, vec_col: str,
                      fusion: str | None, formula: str | None,
                      id_col: str) -> list:
        """The one rule for the order of a read result, as
        ``[(key, ascending), …, (id, True)]`` (`operators.topk`'s
        order spec). A formula value, a fused score (named after its
        fusion), a context score and a ``best_score`` recommendation
        rank descending; ``order_by`` ranks by ``order_value`` in its
        own direction; a sample by its seeded ``md5(id‖seed)`` hash;
        discovery by zones satisfied (``rank``) first; everything
        else — a vector, a point id, an ``average_vector``
        recommendation, discovery's target score — by the space's
        metric. Top-k, offset windows, group ranking, batch ranks
        and every re-sort after a vector attach read it."""
        zones = isinstance(query, DiscoverQuery) and query.target is not None
        context = isinstance(query, (DiscoverQuery, ContextQuery)) and not zones
        if (formula is not None or context
                or getattr(query, "strategy", None) == "best_score"):
            keys = [("score", False)]
        elif query is None:
            keys = [(fusion, False)]
        elif isinstance(query, OrderByQuery):
            keys = [("order_value", not query.desc)]
        elif isinstance(query, SampleQuery):
            keys = [(F.md5(F.concat(F.col(id_col).cast("string"),
                                    F.lit(str(query.seed)))), True)]
        else:
            keys = ([("rank", False)] * zones
                    + [("score", self._ranks_ascending(using, vec_col))])
        return keys + [(id_col, True)]

    @staticmethod
    def _as_scored(d: DataFrame, order: list) -> tuple:
        """A result in its grouped and batched form, with ``order``
        over the new names: a fused score (``rrf``/``dbsf``) is
        ``score``, and discovery's zone count — an order key those
        forms rank by but never return, since their ``rank`` is a
        position — is the hidden ``__zones``."""
        new = {"rrf": "score", "dbsf": "score", "rank": "__zones"}
        d = d.withColumnsRenamed({c: new[c] for c, _ in order if c in new})
        return d, [(new.get(c, c), asc) for c, asc in order]

    def _attach_query_vectors(self, spark: SparkSession, d: DataFrame,
                              with_vectors, using: str | None,
                              vec_col: str, id_col: str,
                              order: list) -> DataFrame:
        """Qdrant ``query_points(with_vectors=...)`` for the universal
        API: ``True`` attaches EVERY space's stored vector (sparse
        spaces attach their index/value pair) — Qdrant returns all
        named vectors for ``True``; a LIST of space names (Qdrant's
        vector-name selector) attaches exactly those spaces' columns.
        The join runs with the ≤pool-row RESULT side broadcast — the
        corpus never re-shuffles — then the result's ``order``
        (:meth:`_result_order`) is restored (bounded ≤k-row sort)."""
        sv = self.meta.get("sparse_vectors") or {}

        def space_cols(name):
            if name in sv:
                return [name + "__sidx", name + "__sval"]
            return [self._vector_cfg(name, vec_col)["vec_col"]]

        if isinstance(with_vectors, (list, tuple, set)):
            cols = [c for name in sorted(with_vectors)
                    for c in space_cols(name)]
        elif with_vectors is True:
            named = self.meta.get("vectors") or {}
            cols = [c for n in sorted(named) for c in space_cols(n)]
            if not named and ("dim" in self.meta or not sv):
                cols += space_cols(None)  # single unnamed dense space
            cols += [c for n in sorted(sv) for c in space_cols(n)]
        else:
            cols = space_cols(using)
        cols = [c for c in cols if c not in d.columns]
        if not cols:
            return d
        side = self.read(spark).select(id_col, *cols)
        return side.join(F.broadcast(d), on=id_col).orderBy(
            *order_cols(order))

    def _prefetch_hits(self, spark: SparkSession, p: "Prefetch",
                       id_col: str, vec_col: str) -> DataFrame:
        """Evaluate one (possibly nested) prefetch branch. A branch
        with inner prefetches rescores only their candidate union:
        each inner stage's ids come back driver-side (≤ its limit
        rows) and restrict this stage's search with a literal
        ``id IN`` — pushed to the scan, so every nesting level reads
        less, not more (Qdrant's multi-stage query_points)."""
        flt = as_predicate(p.query_filter)
        if p.prefetch:
            cand = self._prefetch_candidates(spark, p.prefetch, id_col,
                                             vec_col)
            flt = cand if flt is None else flt & cand
        return self.search(
            spark, p.query, k=p.limit, using=p.using,
            query_filter=flt, id_col=id_col, vec_col=vec_col)

    def _prefetch_candidates(self, spark: SparkSession, prefetch: list,
                             id_col: str, vec_col: str) -> Column:
        """The id union of prefetch branches (run concurrently, ids
        collected driver-side — ≤ Σ limits) as one literal ``id IN``,
        pushed to the scan of the stage it restricts."""
        ids: set = set()
        for rows in _concurrent_branches(
                lambda p: self._prefetch_hits(spark, p, id_col, vec_col)
                .select(id_col).collect(), list(prefetch)):
            ids.update(r[id_col] for r in rows)
        return literal_in(id_col, sorted(ids))

    def _join_payload(self, spark: SparkSession, d: DataFrame,
                      id_col: str, vec_col: str) -> DataFrame:
        """Every payload column joined onto an id-keyed shortlist (a
        fused result carries ids and scores only) — the ≤ pool-row
        shortlist broadcast, the corpus never re-shuffled."""
        return (self.read(spark).drop(*self._vector_columns(vec_col))
                .join(F.broadcast(d), on=id_col))

    def query(self, spark: SparkSession, prefetch, fusion: str = "rrf",
              k: int = 5, id_col: str = "id",
              vec_col: str = "embedding",
              formula: str | None = None,
              query=None, using: str | None = None,
              with_payload=None, with_vectors: bool | list = False,
              group_by: str | None = None, group_size: int = 2,
              with_lookup=None) -> DataFrame:
        """Qdrant's universal ``query_points(prefetch=[...],
        query=...)``, as four stages shared with :meth:`query_batch`
        and :meth:`search_groups`:

        - **candidates** — each prefetch branch runs through the
          ordinary search path (its own vector space, filter, depth
          and, nested, its own inner prefetches); under a ``query=``
          their id union is one literal ``id IN`` pushed to the scan
          of the score stage, without one their shortlists fuse.
        - **score** (:meth:`_scored`) — one dispatch on ``query=``: a
          VECTOR (dense or multivector) or a point id is a
          :meth:`search` restricted to the candidates in ``using``'s
          space (Qdrant's multi-stage form, e.g. matryoshka head-dims
          → full-dims, or dense → MaxSim); ``RecommendQuery`` is
          :meth:`recommend`, ``DiscoverQuery`` / ``ContextQuery`` are
          :meth:`discover`, ``OrderByQuery`` is :meth:`scroll`
          ordered by the field (``order_value`` attached),
          ``SampleQuery`` ranks by ``md5(id‖seed)``. No ``query=``
          fuses the branch shortlists with RRF or DBSF
          (``FusionQuery``). ``formula=`` (a FormulaQuery) stacks on
          the fused or searched score (Qdrant's prefetch → query →
          formula pipeline): a rescore of a ``max(50, 10k)``-deep
          shortlist by the formula over the prescore (``score``) and
          payload, returned as ``score``, ranked descending. It does
          not compose with query objects (``ValueError``).
        - **group** (:meth:`_grouped`, with ``group_by=``) — Qdrant's
          ``query_points_groups`` in its universal form: the pipeline
          runs to a group_size-scaled pool depth, the best
          ``group_size`` hits of each of the top ``k`` groups are
          kept (groups ranked by their best hit under the result
          order; ``rank`` is the position within the group,
          ``group_rank`` the group's), and ``with_lookup`` joins the
          group ids' payload from another collection exactly as in
          :meth:`search_groups`. Prefetch branch limits are the
          caller's — set them deep enough to fill k·group_size.
        - **shape** — ``with_payload`` (``None`` keeps each path's
          own columns; a fused shortlist gains the payload only when
          a selector asks) and ``with_vectors``: ``True`` attaches
          EVERY space's stored vector, a list of space names exactly
          those (sparse spaces attach their index/value pair), result
          side broadcast, the result order restored.

        Every stage ranks by one rule, :meth:`_result_order`."""
        prefetch = ([prefetch] if isinstance(prefetch, Prefetch)
                    else list(prefetch or []))
        if not prefetch and not isinstance(query, _QUERY_OBJECTS):
            # query objects run collection-wide without prefetch
            # (Qdrant query_points(query=RecommendQuery(...)));
            # vector rescore / fusion need candidates to operate on
            raise ValueError("query needs at least one prefetch branch")
        if formula is not None and isinstance(query, _QUERY_OBJECTS):
            raise ValueError("formula= rescores fused or searched "
                             "scores, not query objects")
        if group_by is None and (group_size != 2 or with_lookup is not None):
            raise ValueError("group_size/with_lookup need group_by=")
        if group_by is not None and isinstance(query, (OrderByQuery,
                                                       SampleQuery)):
            raise ValueError(
                "group_by= does not compose with order_by/sample "
                "queries (no score to rank groups by)")
        order = self._result_order(query, using, vec_col, fusion, formula,
                                   id_col)
        out = self._scored(
            spark, prefetch, fusion, k if group_by is None
            else max(50, k * group_size * 10), formula, query, using,
            order, id_col, vec_col)
        if group_by is not None and with_payload is None:
            with_payload = True  # the grouped default
        if with_payload not in (None, False) and query is None \
                and formula is None:
            # fused rows carry only (id, score): join the payload the
            # selector asks for, grouped or not
            out = self._join_payload(spark, out, id_col, vec_col)
        if group_by is not None:
            out = self._grouped(
                spark, out, order, group_by, k, group_size, with_lookup,
                with_payload, id_col, vec_col)
            order = [("group_rank", True), ("rank", True), (id_col, True)]
        elif with_payload is not None:
            out = self._apply_with_payload(
                out, with_payload, id_col, vec_col,
                keep_extra=("rrf", "dbsf", "order_value"))
        if with_vectors:
            out = self._attach_query_vectors(
                spark, out, with_vectors, using, vec_col, id_col, order)
        return out

    def _scored(self, spark: SparkSession, prefetch: list, fusion: str,
                k: int, formula: str | None, query, using: str | None,
                order: list, id_col: str, vec_col: str) -> DataFrame:
        """The score stage of :meth:`query`: the top ``k`` of one
        dispatch on ``query=`` over the prefetch candidates (a literal
        ``id IN``; none for a query object without prefetch, which
        runs collection-wide), or the fused branch shortlists."""
        from .operators.formula import formula_rescore
        from .operators.fusion import dbsf_fuse, rrf_fuse

        cand = (self._prefetch_candidates(spark, prefetch, id_col, vec_col)
                if prefetch and query is not None else None)
        if isinstance(query, RecommendQuery):
            return self.recommend(
                spark, query.positive, query.negative, k=k,
                query_filter=cand, id_col=id_col, vec_col=vec_col,
                using=using, strategy=query.strategy)
        if isinstance(query, (DiscoverQuery, ContextQuery)):
            return self.discover(
                spark, query.context, target=getattr(query, "target", None),
                k=k, query_filter=cand, id_col=id_col, vec_col=vec_col,
                using=using)
        if isinstance(query, OrderByQuery):
            schema = self.read(spark).schema
            if query.key in schema.names and not isinstance(
                    schema[query.key].dataType, _ORDER_BY_TYPES):
                raise ValueError(
                    f"OrderByQuery key {query.key!r} is a "
                    f"{schema[query.key].dataType.simpleString()} field; "
                    "order_by ranks numeric and timestamp fields only")
            return self.scroll(
                spark, limit=k, id_col=id_col, vec_col=vec_col,
                order_by=query.key, start_from=query.start_from,
                desc=query.desc, scroll_filter=cand).withColumn(
                "order_value", F.col(query.key).cast("double"))
        if isinstance(query, SampleQuery):
            table = self.read(spark)
            table = table if cand is None else table.filter(cand)
            return (table.drop(*self._vector_columns(vec_col))
                    .orderBy(*order_cols(order)).limit(k))
        if query is not None:
            return self.search(
                spark, query, k=k, using=using, query_filter=cand,
                formula=formula, id_col=id_col, vec_col=vec_col)
        fuse = {"rrf": rrf_fuse, "dbsf": dbsf_fuse}.get(fusion)
        if fuse is None:
            raise ValueError(f"unknown fusion {fusion!r} (rrf|dbsf)")
        hits = _concurrent_branches(
            lambda p: self._prefetch_hits(spark, p, id_col, vec_col),
            prefetch)
        fused = fuse([(h.select(id_col, "score"),
                       self._ranks_ascending(p.using, vec_col))
                      for h, p in zip(hits, prefetch)],
                     k=k if formula is None else max(50, k * 10),
                     id_col=id_col)
        if formula is None:
            return fused
        # formulas address the fused prescore as `score`, Qdrant's $score
        pre = self._join_payload(spark, fused.withColumnRenamed(
            fusion, "score"), id_col, vec_col)
        return formula_rescore(
            pre, formula, k=k, id_col=id_col, boosted_col="score",
            payload_cols=[c for c in pre.columns
                          if c not in (id_col, "score")])

    def _grouped(self, spark: SparkSession, d: DataFrame, order: list,
                 group_by: str, limit: int, group_size: int, with_lookup,
                 with_payload, id_col: str, vec_col: str) -> DataFrame:
        """The group stage of :meth:`query` and :meth:`search_groups`:
        the best ``group_size`` rows of each of the top ``limit``
        groups, groups ranked by their best row under ``order``
        (`top_groups`), then ``with_lookup`` (:meth:`_attach_lookup`),
        then ``with_payload`` — the group key, ``group_rank`` and the
        ``lookup_*`` fields are never payload. A group key the scored
        rows do not carry joins on by id (≤ pool rows broadcast)."""
        d, order = self._as_scored(d, order)
        if group_by not in d.columns:
            d = self.read(spark).select(id_col, group_by).join(
                F.broadcast(d), on=id_col)
        out = top_groups(d, group_by, order, limit=limit,
                         group_size=group_size).drop("__zones")
        if with_lookup is not None:
            out = self._attach_lookup(spark, out, group_by, with_lookup,
                                      id_col)
        extra = tuple(c for c in out.columns
                      if c in (group_by, "group_rank")
                      or c.startswith("lookup_"))
        return self._apply_with_payload(out, with_payload, id_col, vec_col,
                                        keep_extra=extra)

    def query_batch(self, spark: SparkSession, requests: list,
                    id_col: str = "id",
                    vec_col: str = "embedding") -> DataFrame:
        """Qdrant's ``query_batch_points`` for the universal query
        API: each request is a kwargs dict for :meth:`query` (its own
        prefetch tree, fusion, formula, rescore vector or query
        object). Requests evaluate as independent shortlist-bounded
        branches of ONE union plan, tagged ``query_idx``, ranked per
        request by :meth:`_result_order` — ``(query_idx, id, score,
        rank)`` rows, the shape ``search_batch`` returns (discovery's
        zone count orders the rows but is not returned). Qdrant
        likewise executes batch requests independently server-side;
        the win is one round-trip and one job submission, not
        cross-request work sharing (the dense/two-stage batched scans
        ARE shared-pass and live in ``search_batch``). Keys whose
        output that shape would drop — grouping, ``with_lookup``,
        ``with_payload``, ``with_vectors`` — raise ``ValueError``, as
        do order_by/sample queries (no score to rank by)."""
        if not requests:
            raise ValueError("query_batch needs at least one request")
        from pyspark.sql import Window

        for req in requests:
            if isinstance(req.get("query"), (OrderByQuery, SampleQuery)) \
                    or set(req) & {"group_by", "group_size", "with_lookup",
                                   "with_payload", "with_vectors"}:
                raise ValueError(
                    "query_batch requests need a score to rank by and "
                    "return (query_idx, id, score, rank) rows — run "
                    "order_by/sample queries and requests with group_by/"
                    "group_size/with_lookup/with_payload/with_vectors "
                    "through query()")
        outs = _concurrent_branches(
            lambda req: self.query(spark, id_col=id_col,
                                   vec_col=vec_col, **req),
            list(requests))
        branches = []
        for i, (req, out) in enumerate(zip(requests, outs)):
            d, order = self._as_scored(
                out.withColumn("query_idx", F.lit(i)), self._result_order(
                    req.get("query"), req.get("using"), vec_col,
                    req.get("fusion", "rrf"), req.get("formula"), id_col))
            w = Window.partitionBy("query_idx").orderBy(*order_cols(order))
            branches.append(d.select(
                "query_idx", id_col, "score",
                F.row_number().over(w).cast("int").alias("rank")))
        return functools.reduce(DataFrame.unionByName, branches)

    def recommend(self, spark: SparkSession, positive: list, negative:
                  list = (), k: int = 5, query_filter=None,
                  score_threshold=None, id_col: str = "id",
                  vec_col: str = "embedding", nprobe: int | None = None,
                  exact: bool = False, using: str | None = None,
                  strategy: str = "average_vector",
                  lookup_from=None, with_payload=True) -> DataFrame:
        """Qdrant's ``recommend`` analog (``strategy=average_vector``,
        the client default): a search whose query vector is
        ``avg(positive examples) − avg(negative examples)`` over the
        *stored* vectors (for COSINE collections those are already
        normalized — exactly Qdrant's behavior of averaging
        post-normalization), with the example points excluded from the
        results. The example fetch is an O(#examples) driver-side
        lookup by id (:meth:`_examples`); the search runs through
        :meth:`search`'s own front door, so tier, knobs and scores are
        exactly a search's — :meth:`recommend_batch` is the same call
        for many requests.

        ``lookup_from`` (Qdrant ``LookupLocation``): resolve example
        ids in ANOTHER collection — a `Collection` or a
        ``(Collection, using)`` pair for a named space there (e.g.
        user-profile vectors recommending over a document corpus; dims
        must agree). As in Qdrant, example exclusion applies only when
        the examples live in THIS collection — foreign ids don't name
        points here.

        Sparse spaces recommend too (``using=<sparse name>``): the
        query is the index-union average of the positive examples'
        stored sparse vectors minus the negatives' average, searched
        through the normal sparse path with the examples excluded.

        ``strategy="best_score"`` (Qdrant ``BEST_SCORE``, dense spaces,
        single requests) scores each point by its per-example
        similarities instead of one composed vector."""
        if strategy not in ("average_vector", "best_score"):
            raise ValueError(f"unknown recommend strategy {strategy!r}")
        if self._sparse_space(using) and (strategy != "average_vector"
                                          or lookup_from is not None):
            raise ValueError("sparse recommend supports "
                             "strategy='average_vector' without "
                             "lookup_from")
        [(pos, neg, flt)] = self._recommend_examples(
            spark, [(positive, negative)], query_filter, id_col, vec_col,
            using, lookup_from)
        if strategy == "average_vector":
            return self._query_points(
                spark, [_compose(pos, neg)], None,
                SearchKnobs(k, exact, nprobe), flt, score_threshold,
                id_col, vec_col, using, False, with_payload)
        # Qdrant RecommendStrategy.BEST_SCORE: literal-folded
        # per-example similarities, max-merged with the documented
        # -(max_neg²) negative branch (operators/discover.py).
        from .operators.discover import recommend_best_score

        cfg = self._vector_cfg(using, vec_col)
        table = self.read(spark)
        payload = [c for c in table.columns
                   if c not in self._vector_columns(cfg["vec_col"])
                   | {id_col}]
        out = recommend_best_score(
            table, pos, neg, k=k, id_col=id_col, vec_col=cfg["vec_col"],
            payload_cols=payload, prefilter=flt,
            prenormalized=bool(cfg.get("normalize")),
            dim=cfg.get("dim"), metric=cfg.get("metric", "cosine"))
        if score_threshold is not None:
            out = out.filter(F.col("score") >= score_threshold)
        return self._apply_with_payload(
            out, with_payload, id_col, cfg["vec_col"])

    def recommend_groups(self, spark: SparkSession, positive: list,
                         group_by: str, negative: list = (),
                         limit: int = 3, group_size: int = 2,
                         query_filter=None, id_col: str = "id",
                         vec_col: str = "embedding",
                         using: str | None = None,
                         with_lookup=None) -> DataFrame:
        """Qdrant's ``recommend_groups``: the recommend composition
        (``avg(positive) − avg(negative)`` over stored vectors,
        examples excluded) ranked as groups — best ``group_size`` hits
        from each of the top ``limit`` groups. Same example semantics
        as :meth:`recommend` (average_vector strategy, the same
        example lookup and composition); the grouped search is
        :meth:`search_groups` (incl. ``with_lookup``)."""
        [(pos, neg, flt)] = self._recommend_examples(
            spark, [(positive, negative)], query_filter, id_col, vec_col,
            using)
        return self.search_groups(
            spark, _compose(pos, neg), group_by=group_by, limit=limit,
            group_size=group_size, query_filter=flt, id_col=id_col,
            vec_col=vec_col, using=using, with_lookup=with_lookup)

    def recommend_batch(self, spark: SparkSession, requests: list,
                        k: int = 5, query_filter=None,
                        id_col: str = "id",
                        vec_col: str = "embedding",
                        using: str | None = None) -> DataFrame:
        """Qdrant's ``recommend_batch``: many :meth:`recommend` requests
        as ONE :meth:`search_batch`. ``requests`` is a list of
        ``(positive_ids, negative_ids)`` pairs (or ``positive_ids``
        lists). All example vectors resolve in one driver-side lookup;
        each request's composed vector is one batch query, and its
        example exclusion (AND ``query_filter``) is that query's
        per-request filter — so the planner routes filter-correct
        (the exact scan or an exhaustive IVF probe) and every request
        scores exactly as :meth:`recommend` would, in one corpus
        pass. Dense spaces only: sparse batches take one shared filter,
        which cannot carry per-request exclusions."""
        ex = self._recommend_examples(
            spark, [r if isinstance(r, tuple) else (r, ()) for r in requests],
            query_filter, id_col, vec_col, using)
        return self._query_points(
            spark, [_compose(p, n) for p, n, _ in ex], len(ex),
            SearchKnobs(k), [f for *_, f in ex], None, id_col, vec_col,
            using, False, True)

    def _recommend_examples(self, spark: SparkSession, requests: list,
                            query_filter, id_col: str, vec_col: str,
                            using: str | None, lookup_from=None) -> list:
        """Each ``(positive, negative)`` request's example vectors and
        search filter, every request resolved in ONE example lookup.
        The filter is ``query_filter`` AND NOT the request's example
        ids — examples never recommend themselves — unless the
        examples come from another collection (``lookup_from``: a
        `Collection` or ``(Collection, using)``), whose ids name no
        point here."""
        reqs = [(list(p), list(n)) for p, n in requests]
        if not reqs or any(not p for p, _ in reqs):
            raise ValueError("recommend requires at least one positive id")
        lookup = (None if lookup_from is None
                  else lookup_from if isinstance(lookup_from, tuple)
                  else (lookup_from, None))
        vecs = iter(self._examples(
            spark, [x for p, n in reqs for x in (*p, *n)], id_col, vec_col,
            using, "recommend", lookup))
        local = lookup is None or lookup[0] is self
        return [([next(vecs) for _ in p], [next(vecs) for _ in n],
                 _excluding(query_filter, id_col, [
                     x for x in (*p, *n)
                     if local and isinstance(x, (int, str))]))
                for p, n in reqs]

    def _examples(self, spark: SparkSession, items: list, id_col: str,
                  vec_col: str, using: str | None, op: str,
                  lookup: tuple | None = None) -> list:
        """Resolve examples — point ids (int/str) or raw vectors — to
        vectors of the searched space: float lists, or ``{index:
        value}`` dicts for a sparse space. Every id lookup of the read
        path (recommend, discover, query-by-id) runs here: one
        O(#ids) driver-side fetch, from this collection or from
        ``lookup`` — Qdrant's ``LookupLocation`` as a ``(Collection,
        using)`` pair, whose dense vectors must match this space's
        dim. ``op`` names the caller in the dense-only error."""
        sparse = self._sparse_space(using)
        src, src_using = lookup or (self, using)
        if sparse:
            cols = [sparse + "__sidx", sparse + "__sval"]
        else:
            cfg = self._vector_cfg(using, vec_col)
            scfg = src._vector_cfg(src_using, vec_col)
            if cfg.get("multivector"):
                raise ValueError(f"{op} supports dense collections")
            if scfg.get("multivector"):
                raise ValueError("lookup_from space must be dense")
            cols = [scfg["vec_col"]]
        ids = [x for x in items if isinstance(x, (int, str))]
        rows = src.read(spark).filter(literal_in(id_col, ids)).select(
            id_col, *cols).collect() if ids else []
        vecs = {r[0]: dict(zip(r[1], r[2])) if sparse
                else [float(x) for x in r[1]]
                for r in rows if r[1] is not None}
        missing = [i for i in ids if i not in vecs]
        if missing:
            raise ValueError(f"example points not found: {missing}")
        dim = None if sparse or src is self else cfg.get("dim")
        if dim and any(len(v) != dim for v in vecs.values()):
            raise ValueError(
                f"lookup_from vectors must match this space's dim {dim}")
        return [vecs[x] if isinstance(x, (int, str))
                else [float(v) for v in x] for x in items]

    def discover(self, spark: SparkSession, context: list,
                 target=None, k: int = 5, query_filter=None,
                 id_col: str = "id", vec_col: str = "embedding",
                 using: str | None = None, with_payload=True) -> DataFrame:
        """Qdrant's Discovery API analog (``client.discover``): guide
        the search with ``context`` pairs ``(positive, negative)`` —
        each a point id or a raw vector. With ``target`` set this is
        discovery search (rank by zones satisfied, then target score);
        with ``target=None`` it is context-only search (rank by
        ``sum(min(0, s_pos - s_neg))``). Every example id resolves in
        one driver-side lookup (:meth:`_examples`); one scan-local
        corpus pass — the pairs fold into the projection as
        literals."""
        from .operators.discover import context_search, discovery_search

        cfg = self._vector_cfg(using, vec_col)
        vec_col = cfg["vec_col"]
        vecs = self._examples(
            spark, [x for p in context for x in p]
            + ([] if target is None else [target]),
            id_col, vec_col, using, "discover")
        if cfg.get("normalize"):
            vecs = [_unit(v) for v in vecs]
        it = iter(vecs)
        pairs = [(next(it), next(it)) for _ in context]
        corpus = self.read(spark).filter(F.col(vec_col).isNotNull())
        payload = [c for c in corpus.columns
                   if c not in self._vector_columns(vec_col) | {id_col}]
        common = dict(
            k=k, id_col=id_col, vec_col=vec_col, payload_cols=payload,
            prefilter=as_predicate(query_filter),
            prenormalized=bool(cfg.get("normalize")),
            dim=cfg.get("dim"), metric=cfg.get("metric", "cosine"),
        )
        out = (context_search(corpus, pairs, **common) if target is None
               else discovery_search(corpus, next(it), pairs, **common))
        return self._apply_with_payload(out, with_payload, id_col, vec_col)

    def discover_batch(self, spark: SparkSession, requests: list,
                       k: int = 5, query_filter=None,
                       id_col: str = "id", vec_col: str = "embedding",
                       using: str | None = None) -> DataFrame:
        """Qdrant's ``discover_batch``: many discovery requests, one
        result frame tagged ``query_idx``. ``requests`` is a list of
        ``(context, target)`` pairs (or bare ``context`` lists for
        context-only search). Each request's literal-folded scoring
        projection differs, so the branches stay separate scans
        unioned LAZILY — one Spark action materializes all of them
        (Qdrant's server loops the requests too); requests that share
        a shape can use the dense batch path instead."""
        from functools import reduce

        if not requests:
            raise ValueError("discover_batch needs at least one request")
        outs = []
        for qi, req in enumerate(requests):
            ctx, target = (req if isinstance(req, tuple)
                           else (req, None))
            outs.append(
                self.discover(
                    spark, ctx, target=target, k=k,
                    query_filter=query_filter, id_col=id_col,
                    vec_col=vec_col, using=using)
                .withColumn("query_idx", F.lit(qi)))
        # targeted requests emit (zones, score); context-only emit
        # context_score — the union keeps each shape's columns, nulls
        # elsewhere (Qdrant's batch responses differ per request too)
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), outs)

    def search_matrix(self, spark: SparkSession, sample: int = 10,
                      k: int = 3, query_filter=None, id_col: str = "id",
                      vec_col: str = "embedding",
                      using: str | None = None) -> DataFrame:
        """Qdrant's ``search_matrix_pairs`` analog: take a
        deterministic content-hash sample of ``sample`` points (Qdrant
        samples randomly; the hash rank is the engine's reproducible
        equivalent — stable across runs and repartitioning) and return
        each sampled point's ``k`` nearest within the sample. The
        all-pairs join is sample × sample, never corpus-sized; the
        corpus-scale analog is ``operators.knnjoin``."""
        from .functions.text import hash64
        from .operators.matrix import distance_matrix_pairs

        cfg = self._vector_cfg(using, vec_col)
        vec_col = cfg["vec_col"]
        if cfg.get("multivector"):
            raise ValueError("search_matrix supports dense collections")
        query_filter = as_predicate(query_filter)
        corpus = self.read(spark).filter(F.col(vec_col).isNotNull())
        if query_filter is not None:
            corpus = corpus.filter(query_filter)
        picked = (
            corpus.select(id_col, vec_col)
            .withColumn("__h", hash64(
                F.concat(F.lit("matrix:"), F.col(id_col).cast("string"))))
            .orderBy("__h", id_col).limit(sample).drop("__h")
        )
        return distance_matrix_pairs(
            picked, k=k, id_col=id_col, vec_col=vec_col,
            prenormalized=bool(cfg.get("normalize")), dim=cfg.get("dim"),
            metric=cfg.get("metric", "cosine"),
        )

    def search_matrix_offsets(self, spark: SparkSession, sample: int = 10,
                              k: int = 3, query_filter=None,
                              id_col: str = "id",
                              vec_col: str = "embedding",
                              using: str | None = None) -> dict:
        """Qdrant's ``search_matrix_offsets``: the same sampled
        distance matrix as :meth:`search_matrix`, serialized flat —
        ``ids`` (the sampled points), ``offsets_row``/``offsets_col``
        (indices into ``ids``) and ``scores``, ordered by (row offset,
        neighbor rank — the metric's own direction). A pure driver-
        side re-shaping of the ≤ sample·k pair rows; the distributed
        work is identical."""
        pairs = self.search_matrix(
            spark, sample=sample, k=k, query_filter=query_filter,
            id_col=id_col, vec_col=vec_col, using=using).collect()
        ids = sorted({r["id_a"] for r in pairs} | {r["id_b"] for r in pairs})
        pos = {pid: i for i, pid in enumerate(ids)}
        rows = sorted(pairs, key=lambda r: (pos[r["id_a"]], r["rank"]))
        return {
            "ids": ids,
            "offsets_row": [pos[r["id_a"]] for r in rows],
            "offsets_col": [pos[r["id_b"]] for r in rows],
            "scores": [r["score"] for r in rows],
        }

    def sample(self, spark: SparkSession, n: int = 10, query_filter=None,
               id_col: str = "id") -> DataFrame:
        """Qdrant's random sampling (``query=sample(random)``) analog.
        Qdrant draws with an RNG; the engine ranks by a content hash of
        the id instead — same marginal behavior (uniform, filter-aware)
        but reproducible across runs, engines, and repartitioning,
        which is what a 100 TB pipeline actually wants from a sample.
        Plan: scan → hash rank → TakeOrderedAndProject (per-partition
        heaps, O(n) rows to the driver)."""
        from .functions.text import hash64

        query_filter = as_predicate(query_filter)
        df = self.read(spark)
        if query_filter is not None:
            df = df.filter(query_filter)
        h = hash64(F.concat(F.lit("sample:"), F.col(id_col).cast("string")))
        return (df.withColumn("__h", h)
                .orderBy("__h", id_col).limit(n).drop("__h"))

    def search_groups(self, spark: SparkSession, query_vector: list,
                      group_by: str, limit: int = 3, group_size: int = 2,
                      query_filter=None, id_col: str = "id",
                      vec_col: str = "embedding",
                      using: str | None = None,
                      with_lookup=None, with_payload=True) -> DataFrame:
        """Qdrant's ``query_points_groups`` analog: results grouped by
        a payload field — the best ``group_size`` hits from each of
        the top ``limit`` groups, groups ranked by their best hit. One
        corpus pass: the exact scored search (:meth:`search` with
        every point scored — dense or MaxSim, exactly as the
        space's scorer ranks it), then the group stage
        :meth:`_grouped` (per-group window, ≤limit-row group verdict
        broadcast back) that :meth:`query` ``group_by=`` shares.

        ``with_lookup`` (Qdrant ``WithLookup``): a ``Collection`` — or
        ``(Collection, [fields])`` to project a subset — whose point
        ids are the ``group_by`` values; each result row gains that
        point's payload as ``lookup_<field>`` columns (e.g. chunks
        grouped by document id, looked up in the documents
        collection). The ≤``limit`` group ids are collected
        driver-side and pushed into the lookup scan as a literal
        ``IN`` filter (row-group pruning), so the lookup table is
        never scanned wide or shuffled — the ≤limit matched rows
        broadcast into the join."""
        scored = self._query_points(
            spark, [query_vector], None, SearchKnobs(None, exact=True),
            query_filter, None, id_col, vec_col, using, False, True)
        return self._grouped(
            spark, scored, self._result_order(query_vector, using, vec_col,
                                              None, None, id_col),
            group_by, limit, group_size, with_lookup, with_payload, id_col,
            vec_col)

    def _attach_lookup(self, spark: SparkSession, out: DataFrame,
                       group_by: str, with_lookup, id_col: str) -> DataFrame:
        """Qdrant ``WithLookup``: attach ``lookup_<field>`` columns
        from the collection whose point ids are the group values. The
        grouped result is ≤ limit·group_size rows: materialize it once
        (eager localCheckpoint) so the gids collect and the final join
        don't each re-run the scoring pass; the ≤limit group ids push
        into the lookup scan as a literal ``IN`` (row-group pruning)
        and the matched rows broadcast."""
        if isinstance(with_lookup, tuple):
            lookup, lfields = with_lookup
        else:
            lookup, lfields = with_lookup, None
        ltab = lookup.read(spark)
        if lfields is None:
            # the LOOKUP collection's own vector columns (its default
            # space name, not the searched space's) stay projected away
            lfields = [c for c in ltab.columns
                       if c not in lookup._vector_columns() | {id_col}]
        out = out.localCheckpoint()
        gids = [r[0] for r in out.select(group_by).distinct().collect()]
        sel = ltab.filter(literal_in(id_col, gids)).select(
            F.col(id_col).alias("__gid"),
            *[F.col(c).alias(f"lookup_{c}") for c in lfields])
        return (out.join(F.broadcast(sel),
                         out[group_by] == sel["__gid"], "left")
                .drop("__gid"))

    # -- point management (Qdrant client surface beyond the reference) ----

    def delete(self, spark: SparkSession, predicate: Column,
               id_col: str = "id", vec_col: str = "embedding") -> int:
        """Qdrant's ``delete(points_selector=Filter(...))`` analog:
        remove every point matching the predicate — SQL DELETE
        semantics: only rows where the predicate is TRUE are removed
        (a NULL predicate is a non-match, as in Qdrant's filter
        matching). File-scoped since round 5: only the files holding
        a matched row are rewritten with their survivors; every other
        data file keeps its bytes (Delta/Iceberg would make this a
        metadata-only DELETE). The IVF layout is re-derived so deleted
        points leave the index too. Returns the number of points
        removed."""
        predicate = as_predicate(predicate)
        return self._scoped_rewrite(
            spark, predicate,
            lambda t: t.filter(~F.coalesce(predicate, F.lit(False))),
            id_col, vec_col)

    def _selector_pred(self, selector, id_col: str) -> Column:
        """Qdrant points-selector: a list of ids or a Filter/Column."""
        if isinstance(selector, (list, tuple, set)):
            return literal_in(id_col, selector)
        pred = as_predicate(selector)
        if pred is None:
            raise ValueError("points selector required (ids or Filter)")
        return pred

    def retrieve(self, spark: SparkSession, ids: list,
                 id_col: str = "id", with_vectors: bool = False,
                 vec_col: str = "embedding",
                 with_payload=True) -> DataFrame:
        """Qdrant's ``retrieve`` analog: fetch points by id. The id
        predicate pushes into the parquet scan; vectors are projected
        away unless asked for, and ``with_payload`` (True / False /
        include-list / {"exclude": [...]}) narrows the payload —
        column pruning keeps everything dropped unread."""
        df = self.read(spark).filter(literal_in(id_col, ids))
        if not with_vectors:
            drop = self._vector_columns(vec_col)
            df = df.drop(*[c for c in drop if c in df.columns])
        return self._apply_with_payload(df, with_payload, id_col, vec_col)

    def _rewrite(self, spark: SparkSession, table: DataFrame,
                 id_col: str, vec_col: str,
                 post_write: bool = True,
                 vectors_changed: bool = True) -> None:
        """Full staged swap + index refresh. Since round 5 only the
        operations whose effect is inherently table-wide use this —
        payload-index create/drop and compaction (layout changes) and
        :meth:`_scoped_rewrite`'s table-wide fallback (a schema change
        or a wide match). Selector-scoped point ops go through
        :meth:`_scoped_rewrite`."""
        staging = self.path + ".__rewrite__"
        self._write_main(table, "overwrite", staging)
        shutil.rmtree(self.path)
        os.rename(staging, self.path)
        if post_write:
            self._post_write(spark, None, id_col, vec_col, rewrote=True,
                             vectors_changed=vectors_changed)

    def _data_file_count(self) -> int:
        """Number of parquet data files on disk — a driver-side
        listing, no Spark job."""
        n = 0
        for _root, _dirs, files in os.walk(self.path):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    def _scoped_rewrite(self, spark: SparkSession, match,
                        transform, id_col: str, vec_col: str,
                        post_write: bool = True,
                        vectors_changed: bool = True) -> int:
        """The one writer of the point ops (merge upsert, delete,
        every payload and vector op): a file-scoped staged rewrite in
        which only the data files holding at least one matched row are
        rewritten — every other data file keeps its exact bytes.
        Returns the matched-row count, from ONE scan (a per-file count
        aggregate — never two passes with the same predicate); 0 on
        an empty collection, where nothing runs. At 100 TB a
        selector-scoped set_payload touches the files containing the
        matched ids, not the table; with a payload-index
        ``partitionBy`` layout the matched-file set is additionally
        partition-pruned by the selector predicate before any data is
        read.

        Table-wide instead (:meth:`_rewrite`) when the transform
        changes the table's columns — a new payload key is a schema
        change, and parquet schemas must stay uniform across files (a
        part-table schema would make reads depend on which file the
        reader samples); decided from the analyzed plan, no job — or
        when the match is wide: ≥ ``_SCOPED_FULL_FRACTION`` of the
        data files, or more than ``_SCOPED_MAX_FILES`` paths for the
        file ``IN`` literal. There per-file surgery costs more than it
        saves: rewriting everything is the same IO with none of the
        plan blowup, and every ``transform`` is row-local, so the
        result is the same.

        ``match``: a boolean Column (selector predicate) or a
        one-column id DataFrame (update batches — joined left_semi, so
        a wide batch never becomes a giant IN-list). ``transform``
        maps the matched files' rows to their full replacement rows.
        ``vectors_changed=False`` (payload-only) narrows the
        ``_post_write`` refresh to ``.ivf``; ``post_write=False`` lets
        the merge upsert defer every refresh until after its
        append."""
        if not self._has_data(spark):
            return 0
        table = self.read(spark)
        tagged = table.withColumn("__file", F.col("_metadata.file_path"))
        if isinstance(match, DataFrame):
            matched = tagged.join(match, on=id_col, how="left_semi")
        else:
            matched = tagged.filter(match)
        per_file = matched.groupBy("__file").agg(
            F.count(F.lit(1)).alias("__n")).collect()  # ≤ #data files
        files = [r["__file"] for r in per_file]
        if (set(transform(table).columns) != set(table.columns)
                or len(files) > _SCOPED_MAX_FILES
                or len(files) >= _SCOPED_FULL_FRACTION
                * self._data_file_count()):
            self._rewrite(spark, transform(table), id_col, vec_col,
                          post_write=post_write,
                          vectors_changed=vectors_changed)
        elif files:
            subset = tagged.filter(literal_in("__file", files))
            staging = self.path + ".__rewrite__"
            self._write_main(transform(subset.drop("__file")), "overwrite",
                             staging)
            self._swap_staged_files(staging, files)
            if post_write:
                self._post_write(spark, None, id_col, vec_col, rewrote=True,
                                 vectors_changed=vectors_changed)
        return int(sum(r["__n"] for r in per_file))

    def _assign(self, spark: SparkSession, selector, values: dict,
                id_col: str, vec_col: str, vectors_changed: bool) -> int:
        """Every payload and vector point op is this one column
        assignment: on the points matching ``selector`` (ids or
        Filter) each ``values`` column takes its Column, every other
        row keeps its value — one CASE per column, whose NULL branch
        takes the column's own type. A column the table lacks is
        added (NULL off the selector), which :meth:`_scoped_rewrite`
        runs table-wide. Returns the number of points matched."""
        pred = self._selector_pred(selector, id_col)

        def transform(t: DataFrame) -> DataFrame:
            return t.withColumns({
                c: F.when(pred, v).otherwise(
                    F.col(c) if c in t.columns else F.lit(None))
                for c, v in values.items()})

        return self._scoped_rewrite(spark, pred, transform, id_col, vec_col,
                                    vectors_changed=vectors_changed)

    def _columns(self, spark: SparkSession) -> list[str]:
        """The table's columns (none on an empty collection) — schema
        analysis only, no job."""
        return self.read(spark).columns if self._has_data(spark) else []

    def _check_payload_keys(self, keys, id_col: str, vec_col: str) -> None:
        """The one reserved rule of the payload point ops, checked
        before any Spark work (so an empty collection raises too)."""
        bad = sorted(set(keys) & self._reserved_columns(id_col, vec_col))
        if bad:
            raise ValueError(f"cannot write reserved column(s) {bad}")

    def set_payload(self, spark: SparkSession, payload: dict, selector,
                    id_col: str = "id", vec_col: str = "embedding") -> int:
        """Qdrant's ``set_payload``: merge literal payload values onto
        the points matching ``selector`` (ids list or Filter). New keys
        become columns (NULL elsewhere) — the columnar analog of
        Qdrant's schemaless payload merge. Plain-parquet fallback is a
        staged rewrite; Delta/Iceberg would make this MERGE INTO.
        Returns the number of points updated."""
        if not payload:
            raise ValueError("empty payload")
        self._check_payload_keys(payload, id_col, vec_col)
        return self._assign(spark, selector,
                            {k: F.lit(v) for k, v in payload.items()},
                            id_col, vec_col, False)

    def overwrite_payload(self, spark: SparkSession, payload: dict,
                          selector, id_col: str = "id",
                          vec_col: str = "embedding") -> int:
        """Qdrant's ``overwrite_payload``: REPLACE the whole payload of
        matching points — every existing payload column nulls where the
        selector matches (the shard key is not payload and is kept),
        then the provided keys are set. Contrast :meth:`set_payload`,
        which merges. Returns the number of points updated."""
        if not payload:
            raise ValueError("empty payload")
        self._check_payload_keys(payload, id_col, vec_col)
        reserved = self._reserved_columns(id_col, vec_col)
        cleared = {c: F.lit(None) for c in self._columns(spark)
                   if c not in reserved}
        return self._assign(spark, selector, cleared | {
            k: F.lit(v) for k, v in payload.items()}, id_col, vec_col, False)

    def delete_payload(self, spark: SparkSession, keys: list, selector,
                       id_col: str = "id",
                       vec_col: str = "embedding") -> int:
        """Qdrant's ``delete_payload``: null out the given payload keys
        on matching points (columns stay in the schema — the columnar
        reading of key removal; keys the table lacks are skipped)."""
        self._check_payload_keys(keys, id_col, vec_col)
        cols = self._columns(spark)
        return self._assign(spark, selector,
                            {k: F.lit(None) for k in keys if k in cols},
                            id_col, vec_col, False)

    def clear_payload(self, spark: SparkSession, selector,
                      id_col: str = "id",
                      vec_col: str = "embedding") -> int:
        """Qdrant's ``clear_payload``: null every payload column on the
        matching points (id, shard key and every vector space, with
        its sidecars, are kept — Qdrant semantics)."""
        reserved = self._reserved_columns(id_col, vec_col)
        return self.delete_payload(
            spark, [c for c in self._columns(spark) if c not in reserved],
            selector, id_col=id_col, vec_col=vec_col)

    def update_vectors(self, spark: SparkSession, points: DataFrame,
                       id_col: str = "id",
                       vec_col: str = "embedding") -> int:
        """Qdrant's ``update_vectors``: replace ONLY the provided
        vector columns on existing points — payload and any other
        named vectors untouched, ids not present in the collection
        ignored (Qdrant updates existing points only). ``points``
        carries the id column plus one or more vector columns.
        Write-path normalization/dim validation applies exactly as in
        ``upsert`` (cosine collections re-normalize), and the
        sidecars ``_prep_vec`` derives on the batch (subvector count,
        pooled vector) replace the stored ones. The staged rewrite is
        scoped to the files holding a batch id and refreshes index
        layouts and quantization codes, so a routed or quantized
        search never sees stale vectors. Returns the number of
        existing points whose id matched the batch."""
        vcols = [c for c in points.columns if c != id_col]
        if not vcols:
            raise ValueError("points must carry at least one vector column")
        named = self.meta.get("vectors")
        unknown = [c for c in vcols if c not in (named or {vec_col})]
        if unknown:
            raise ValueError(f"unknown vector columns: {unknown} "
                             f"(have {sorted(named or [vec_col])})")
        # Duplicate ids would fan out the left join below and persist
        # duplicated points into the staged rewrite — collapse to one
        # row per id (batch ids should be unique; Qdrant keys by id).
        points = points.dropDuplicates([id_col])
        upd_cols = []
        for name in vcols:
            cfg = self._vector_cfg(name if named else None, vec_col)
            points = self._prep_vec(points, cfg, self.path)
            upd_cols += [c for c in _space_columns(cfg)
                         if c in points.columns]
        upd = points.select(
            F.col(id_col),
            *[F.col(c).alias(f"__new_{c}") for c in upd_cols])

        def transform(t: DataFrame) -> DataFrame:
            return t.join(upd, on=id_col, how="left").withColumns({
                c: F.coalesce(F.col(f"__new_{c}"), F.col(c))
                for c in upd_cols if c in t.columns}).select(*t.columns)

        return self._scoped_rewrite(spark, upd.select(id_col), transform,
                                    id_col, vec_col)

    def delete_vectors(self, spark: SparkSession, names: list, selector,
                       id_col: str = "id",
                       vec_col: str = "embedding") -> int:
        """Qdrant's ``delete_vectors``: null the named vector spaces,
        with their sidecars, on the matching points (payload and the
        other vector spaces kept). A nulled vector drops the point
        from that space's search results — the columnar reading of
        Qdrant removing the vector from the point. Only real dense
        spaces of the collection config are deletable (named keys or
        the single ``vec_col``) — never a sidecar alone, which would
        leave the vector searchable."""
        named = self.meta.get("vectors")
        spaces = named or ({vec_col} if "dim" in self.meta else ())
        for c in names:
            if c not in spaces:
                raise ValueError(f"unknown vector column {c!r}")
        cols = self._columns(spark)
        return self._assign(spark, selector, {
            s: F.lit(None) for c in names
            for s in _space_columns(self._vector_cfg(c if named else None,
                                                     vec_col))
            if s in cols}, id_col, vec_col, True)

    def scroll(self, spark: SparkSession, limit: int = 100,
               after_id=None, id_col: str = "id",
               with_vectors: bool = False,
               vec_col: str = "embedding",
               order_by: str | None = None,
               start_from=None, desc: bool = False,
               scroll_filter=None, with_payload=True) -> DataFrame:
        """Qdrant's ``scroll`` analog: keyset pagination ordered by id
        — ``after_id`` is the last id of the previous page (strictly
        greater-than, so pages never overlap or skip under concurrent
        appends of higher ids). Keyset beats OFFSET at scale: the
        predicate pushes to the scan instead of reading+discarding
        ``offset`` rows.

        With ``order_by`` (Qdrant's ``scroll(order_by=OrderBy(...))``):
        pages walk a payload field instead, ``start_from`` bounding the
        field value (inclusive, like Qdrant), id as tie-break.

        ``scroll_filter`` (Qdrant's ``scroll(scroll_filter=Filter)``):
        a Filter-DSL / Column predicate restricting the walk; it ANDs
        with the keyset bound, pushes to the scan, and — under a
        payload-index layout on the filtered field — statically prunes
        partitions, so filtered pages cost (matching files), not
        (table)."""
        df = self.read(spark)
        pred = as_predicate(scroll_filter)
        if pred is not None:
            df = df.filter(pred)
        if not with_vectors:
            drop = self._vector_columns(vec_col)
            df = df.drop(*[c for c in drop if c in df.columns])
        # payload narrowing applies AFTER the sort/limit so order_by
        # may name an excluded field (page order still honors it)
        def shape(d: DataFrame) -> DataFrame:
            return self._apply_with_payload(
                d, with_payload, id_col, vec_col)
        if order_by is not None:
            ob = F.col(order_by)
            if start_from is not None:
                df = df.filter(ob <= start_from if desc else ob >= start_from)
            keys = [ob.desc() if desc else ob.asc(), F.col(id_col).asc()]
            return shape(df.orderBy(*keys).limit(limit))
        if after_id is not None:
            df = df.filter(F.col(id_col) > after_id)
        return shape(df.orderBy(F.col(id_col).asc()).limit(limit))

    def facet(self, spark: SparkSession, key: str, facet_filter=None,
              limit: int = 10) -> DataFrame:
        """Qdrant's ``facet`` endpoint: value counts for a payload
        field, optionally under a filter — ``(value, count)`` ordered
        by count desc. One groupBy on the facet key (partial aggs
        map-side; cardinality = #distinct values, tiny)."""
        df = self.read(spark)
        pred = as_predicate(facet_filter)
        if pred is not None:
            df = df.filter(pred)
        return (
            df.groupBy(F.col(key).alias("value"))
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.col("count").desc(), F.col("value").asc())
            .limit(limit)
        )

    def compact(self, spark: SparkSession, target_rows_per_file: int = 500_000,
                id_col: str = "id", vec_col: str = "embedding",
                cluster_by: list | None = None) -> int:
        """Segment-merge maintenance (the analog of Qdrant's optimizer
        merging small segments): rewrite the table into
        ``ceil(n / target_rows_per_file)`` files. Append-mode upserts
        accumulate one file-set per batch; compaction restores scan
        efficiency (fewer, larger row groups → fewer tasks, better
        vectorized-reader throughput). The rewrite is the staged
        :meth:`_rewrite`, so a payload-index / shard-key layout keeps
        its ``partitionBy`` directories (later upserts append into
        them). Returns the new data file count, across those
        directories.

        ``cluster_by=[payload keys]`` is Qdrant's tenant
        defragmentation (``defragmentation_key`` on multitenant
        collections): rows are range-partitioned and sorted on the
        keys before the rewrite, so each output file carries a tight
        parquet min/max footer on them — a pushed payload filter then
        skips whole files instead of scanning every row group. At
        100 TB this turns per-tenant searches from full scans into
        O(tenant) scans with zero extra index structures."""
        if not self._has_data(spark):
            return 0
        table = self.read(spark)
        n = table.count()
        n_files = max(1, -(-n // target_rows_per_file))
        shaped = (table.repartitionByRange(n_files, *cluster_by)
                       .sortWithinPartitions(*cluster_by)
                  if cluster_by else table.repartition(n_files))
        self._rewrite(spark, shaped, id_col, vec_col)
        return self._data_file_count()

    # -- S9: stats --------------------------------------------------------

    def count(self, spark: SparkSession, count_filter=None,
              shard_key_selector=None, exact: bool = True) -> int:
        """S9 stats; with ``count_filter`` this is Qdrant's ``count``
        endpoint (exact=True) — the predicate pushes to the scan (and
        a ``shard_key_selector`` prunes partitions statically).

        ``exact=False`` (Qdrant's fast-count flag, where the server
        answers from index metadata): the unfiltered count is read
        from the parquet FOOTERS driver-side — no Spark job, no scan,
        O(#files) metadata reads; at 100 TB this is the difference
        between instant and a full-corpus count stage. Parquet footers
        are exact row counts, so the answer equals ``exact=True`` —
        only the cost model differs, which is truer than Qdrant (its
        fast count can be stale mid-optimization). Filtered/sharded
        counts always take the scan path (a predicate needs data)."""
        if (not exact and count_filter is None
                and shard_key_selector is None):
            if not os.path.isdir(self.path):
                return 0
            import pyarrow.parquet as pq

            total = 0
            for root_dir, _dirs, files in os.walk(self.path):
                for f in files:
                    if f.endswith(".parquet"):
                        total += pq.read_metadata(
                            os.path.join(root_dir, f)).num_rows
            return total
        if not self._has_data(spark):
            return 0
        df = _read_parquet(spark, self.path)
        pred = self._with_shards(count_filter, shard_key_selector)
        if pred is not None:
            df = df.filter(pred)
        return df.count()

    def read(self, spark: SparkSession) -> DataFrame:
        return _read_parquet(spark, self.path)


def collection_exists(root: str, name: str) -> bool:
    return os.path.exists(os.path.join(root, f"{name}.meta.json"))


def list_collections(root: str) -> list[str]:
    """Qdrant ``get_collections`` analog: every collection name under
    ``root``, sorted. Driver-side directory listing — the meta
    sidecar is the existence marker (same rule as
    :func:`collection_exists`), so half-written data dirs or stray
    files never show up as collections."""
    if not os.path.isdir(root):
        return []
    suffix = ".meta.json"
    return sorted(f[:-len(suffix)] for f in os.listdir(root)
                  if f.endswith(suffix))


def delete_collection(root: str, name: str) -> bool:
    """Qdrant ``delete_collection`` analog: remove the collection's
    ENTIRE on-disk state — main table, meta sidecar, derived layouts
    (IVF partitions/centroids, quantized codes), snapshots — and any
    aliases that pointed at it (Qdrant likewise drops a deleted
    collection's aliases). Returns True if the collection existed.
    Idempotent: deleting a missing collection returns False."""
    if not collection_exists(root, name):
        return False
    coll = Collection(root, name)
    for p in coll._state_paths():
        shutil.rmtree(p, ignore_errors=True)
    snaps = os.path.join(root, "_snapshots", name)
    shutil.rmtree(snaps, ignore_errors=True)
    os.remove(coll.meta_path)
    aliases = list_aliases(root)
    dangling = [a for a, target in aliases.items() if target == name]
    if dangling:
        update_aliases(root, delete=dangling)
    return True


# -- collection config rules ----------------------------------------------
#
# One pure helper per rule group, called by both create_collection and
# Collection.update_collection, so the two entry points can never drift
# (Qdrant has one VectorParams type for the single vector and for every
# named vector alike).

_PCA_KNOBS = ("pca_dim needs transform='pca' (the PCA knobs "
              "pca_dim/k_centroids need transform='pca')")


def _pq_validate(dim: int, q: str, blocks=None,
                 codes=None) -> tuple[int, int]:
    """Validate/default the product-quantizer shape: ``blocks``
    defaults to ~8-dim subvectors clamped to [2, 16] (the FAISS m
    convention) and must divide ``dim``; ``codes`` is the per-block
    codebook size (default 16 → 4-bit codes). OPQ additionally caps the
    width: the d×d rotation freezes in the meta JSON, which stops being
    a broadcast-for-free constant somewhere past 256-d (589k doubles at
    768) — wide spaces should compress through ``transform="pca"``
    first, which stores r×d."""
    blocks = int(blocks) if blocks is not None \
        else max(2, min(16, dim // 8))
    codes = int(codes) if codes is not None else 16
    if blocks < 1 or dim % blocks:
        raise ValueError(
            f"pq_blocks must divide dim {dim} (got {blocks})")
    if not 2 <= codes <= 256:
        raise ValueError("pq_codes must be in 2..256")
    if q == "opq" and dim > 256:
        raise ValueError(
            "opq supports dim <= 256 (the dxd rotation freezes in "
            "the meta; use transform='pca' for wide spaces)")
    return blocks, codes


def _dense_space_rules(dim, multivector, quantization, pq_blocks, pq_codes,
                       datatype, transform, pca_dim) -> dict:
    """The rules of one dense vector space — a single-space
    collection, each named space, and every quantizer switch — as the
    meta keys they set (``quantization``, ``pq_blocks``/``pq_codes``,
    ``datatype``, ``transform``/``pca_dim``). ``None`` means "not
    given" for every argument.

    - ``quantization`` (Qdrant ``quantization_config``): scalar int8,
      binary, or product (``"pq"``; ``"opq"`` adds the learned
      FAISS-style rotation before it). Multivector spaces take scalar
      only — int8 per SUBVECTOR dim, as Qdrant quantizes multivector
      subvectors; searches rank a codes-sidecar approximate MaxSim and
      always exact-rescore the survivors at full width.
    - ``datatype="float16"``: multivector spaces only, where vector
      bytes dominate (dense compression is the quantizers' job).
    - ``transform="pca"`` + ``pca_dim``: dense float32 spaces,
      exclusive with quantization (the PCA sidecar IS the compressed
      layout)."""
    dim, out = int(dim), {}
    if quantization is not None:
        if quantization not in ("sq", "bq", "pq", "opq"):
            raise ValueError(
                "quantization must be 'sq', 'bq', 'pq' or 'opq'")
        if multivector and quantization != "sq":
            raise ValueError(
                "multivector collections support quantization='sq' "
                "(scalar int8 per subvector; 'bq'/'pq'/'opq' need "
                "dense spaces)")
        out["quantization"] = quantization
    if quantization in ("pq", "opq"):
        out["pq_blocks"], out["pq_codes"] = _pq_validate(
            dim, quantization, pq_blocks, pq_codes)
    else:
        for key, val in (("pq_blocks", pq_blocks), ("pq_codes", pq_codes)):
            if val is not None:
                raise ValueError(f"{key} needs quantization='pq'/'opq'")
    if datatype not in (None, "float32", "float16"):
        raise ValueError("datatype must be 'float32' or 'float16'")
    if datatype == "float16":
        if not multivector:
            raise ValueError(
                "float16 storage supports multivector collections "
                "(dense compression: use quantization='sq'/'bq')")
        out["datatype"] = "float16"
    if transform is None:
        if pca_dim is not None:
            raise ValueError(_PCA_KNOBS)
        return out
    if transform != "pca":
        raise ValueError("transform must be 'pca'")
    if multivector:
        raise ValueError("transform supports dense collections")
    if quantization is not None:
        raise ValueError(
            "transform and quantization are exclusive (the PCA sidecar "
            "IS the compressed layout)")
    if pca_dim is None or not 0 < int(pca_dim) < dim:
        raise ValueError(f"transform='pca' needs pca_dim in 1..{dim - 1}")
    return {**out, "transform": "pca", "pca_dim": int(pca_dim)}


def _hnsw_quant_rule(metric, quantization) -> None:
    # the quantized walk decodes to the quantizer's dot-ranked space
    # (the _quant_shortlist geometry) — sound for cosine collections,
    # where normalize-then-euclid is monotone with it
    if quantization is not None and (metric or "cosine") != "cosine":
        raise ValueError(
            "hnsw_config over a quantized collection supports the "
            "cosine metric")


def _hnsw_validate(hnsw_config: dict, indexing_threshold,
                   metric, quantization, transform) -> dict:
    """The ``hnsw_config`` rules. Returns the meta dict (m,
    ef_construct, max_segment_size with its 20k default — Qdrant ships
    a max_segment_size default too, and the measured composed curve
    says bounded segments IMPROVE recall at equal ef, BASELINE.md
    §hnsw-composed; fixture-scale cells sit under the cap, so the
    default is a no-op there)."""
    unknown = sorted(set(hnsw_config)
                     - {"m", "ef_construct", "max_segment_size"})
    if unknown:
        raise ValueError(f"unknown hnsw_config key(s) {unknown}")
    hm = int(hnsw_config.get("m", 8))
    hefc = int(hnsw_config.get("ef_construct", 64))
    if hm < 2 or hefc < hm:
        raise ValueError("hnsw_config needs m >= 2 and ef_construct >= m")
    mss = int(hnsw_config.get("max_segment_size", 20_000))
    if mss < 2 * hm:
        raise ValueError(
            "max_segment_size must be >= 2*m (a segment smaller than "
            "the degree cap is all links)")
    if indexing_threshold is None:
        raise ValueError(
            "hnsw_config needs indexing_threshold (graphs are built "
            "per IVF cell at the deferred index build, Qdrant's own "
            "regime)")
    if (metric or "cosine") not in ("cosine", "euclid"):
        raise ValueError("hnsw_config supports cosine/euclid metrics")
    if transform is not None:
        raise ValueError(
            "hnsw_config is exclusive with transform (the PCA sidecar "
            "routes its own compressed-space cells)")
    _hnsw_quant_rule(metric, quantization)
    return {"m": hm, "ef_construct": hefc, "max_segment_size": mss}


def _drift_auto_rule(drift_auto, indexing_threshold, transform,
                     multivector) -> None:
    """``drift_auto`` consumes the verdicts of a maintained layout on a
    dense single space (``split_hot_cells``' scope)."""
    if drift_auto not in (None, "split", "rebuild"):
        raise ValueError("drift_auto must be None, 'split' or 'rebuild'")
    if drift_auto is not None and indexing_threshold is None \
            and transform is None:
        raise ValueError(
            "drift_auto needs indexing_threshold or a transform (no "
            "maintained layout otherwise)")
    if drift_auto is not None and multivector:
        raise ValueError(
            "drift_auto supports dense single-space collections "
            "(split_hot_cells' scope)")


def _sparse_space_rules(name: str, cfg: dict | None) -> dict:
    """One sparse space's config at create, or its diff at update:
    the keys given, checked (``full_scan_threshold=None`` disables the
    posting layout)."""
    cfg = dict(cfg or {})
    unknown = sorted(set(cfg) - {"modifier", "full_scan_threshold"})
    if unknown:
        raise ValueError(
            f"unknown key(s) {unknown} in sparse space {name!r} config")
    if cfg.get("modifier") not in (None, "idf"):
        raise ValueError("sparse modifier must be None or 'idf'")
    if cfg.get("full_scan_threshold") is not None:
        cfg["full_scan_threshold"] = int(cfg["full_scan_threshold"])
    return cfg


def create_collection(root: str, name: str, dim: int | None = None,
                      metric: str = "cosine", multivector: bool = False,
                      comparator: str | None = None,
                      normalize: bool | None = None,
                      indexing_threshold: int | None = None,
                      k_centroids: int = 16,
                      vectors: dict | None = None,
                      quantization: str | None = None,
                      shard_key: str | None = None,
                      datatype: str | None = None,
                      sparse_vectors: dict | None = None,
                      transform: str | None = None,
                      pca_dim: int | None = None,
                      drift_auto: str | None = None,
                      pq_blocks: int | None = None,
                      pq_codes: int = 16,
                      hnsw_config: dict | None = None) -> Collection:
    """S7: create-if-not-exists DDL
    (``ensure_collection_exists``,
    ``incremental_indexing_colpali_with_qdrant.py:116-141``).
    Idempotent: an existing collection is returned unchanged.

    ``indexing_threshold`` mirrors Qdrant's deferred index build
    (``:132``): once the collection holds at least that many points,
    the next upsert builds the IVF layout (``k_centroids`` coarse
    cells, ``kmeans_np`` trained driver-side on the first
    ``max(4096, min(65536, 256·k_centroids))`` points by id — a
    bounded, bit-reproducible train set at any corpus size; later
    points take the frozen cells, and ``index_drift()`` meters the
    skew that leaves) and dense searches route through it. None
    (default) = never auto-index.

    ``datatype="float16"`` (Qdrant ``Datatype.FLOAT16``): store the
    vectors as fp16 — HALF the dominant byte stream. Multivector
    collections only: that is where vector bytes dominate
    (ColPali ≈ 0.5 MB/point; BASELINE.md §fp16-at-shape measures
    two-stage-on-fp16 at 16.5× the fp32 exact scan), and the MaxSim
    scorers decode fp16 natively (`halfvec_encode_udf` codec), while
    dense scoring is JVM-side expression code over float arrays —
    dense compression wants the SQ/BQ quantization tiers instead
    (which also rescore exactly). Scoring stays float64; fp16 is the
    storage rounding only.

    ``transform="pca"`` + ``pca_dim=r`` (the FAISS ``PCA,IVF`` index
    factory as collection config): once the collection reaches
    ``indexing_threshold`` (or at first write without one), PCA
    components train on a bounded id-ordered sample and freeze in the
    meta, every point projects into an r-dim sidecar partitioned by
    IVF cells carved in the COMPRESSED space, and searches route
    there — probe ``nprobe`` cells of the r/d-sized layout, rank
    compressed, exact-rescore the oversampled shortlist at full
    width. Point ops maintain the sidecar like the quantizer codes.
    Named spaces take ``{"transform": "pca", "pca_dim": r}`` per
    space (training at first write). Dense float32 spaces only, and
    exclusive with ``quantization`` on the same space.

    ``hnsw_config={"m": M, "ef_construct": EF}`` (Qdrant
    ``HnswConfigDiff`` — the server's actual index, built per segment
    past ``indexing_threshold``): once the deferred IVF cells exist,
    every cell gets a deterministic HNSW graph (operators/hnsw.py)
    written ``partitionBy(segment)``; dense searches then probe the
    ``nprobe`` nearest cells and WALK their graphs (beam ``hnsw_ef``,
    default ``max(4k, 64)``) instead of scanning them, exact-rescoring
    the bounded candidate union. Point ops rebuild only the touched
    cells' graphs. Filtered searches route on MEASURED selectivity
    (``_hnsw_filter_stats``): a filter keeping at least
    ``_HNSW_FILTER_CROSSOVER`` of the corpus stays on the graph walk
    with the beam widened by 1/match-fraction and the filter applied
    at the exact rescore (Qdrant walks its graph under filters; this
    is that posture with the widening made deterministic); a more
    selective one routes index-only (exact within probed cells,
    filter pushed to the scan) — the quantization
    filter-correctness rule. Dense
    single-space cosine/euclid collections; exclusive with transform.
    COMPOSED with ``quantization`` (cosine collections), the graphs
    build over the CODES sidecar instead — the graph sidecar stores
    codes + links only (4-32× smaller; Qdrant's documented
    large-corpus posture: walk compressed, rescore exact at full
    width) and searches decode per segment;
    ``quantization_params={"ignore": True}`` skips the code walk and
    routes index-only over original vectors.

    ``shard_key="<payload column>"`` (Qdrant custom sharding,
    ``sharding_method=CUSTOM`` + ``create_shard_key``) applies to every
    collection shape — single-space, named-vector and sparse-only: the
    column leads the partition layout, so every
    ``shard_key_selector``-routed read is a static partition prune
    (the multitenancy pattern).

    Each dense space — the single space, or each ``vectors`` entry —
    follows one rule set (``_dense_space_rules``), and
    ``update_collection`` re-checks it on every quantizer switch.

    ``drift_auto`` (the Qdrant-optimizer analog — the server
    re-optimizes segments after writes without being asked): consume
    ``index_drift()``'s action-typed verdict automatically after each
    write. ``"split"`` runs ``split_hot_cells()`` on split verdicts
    (in-place, cost ∝ hot data) but never a full retrain;
    ``"rebuild"`` additionally runs ``rebuild_index()`` on rebuild
    verdicts — and, on transform="pca" collections,
    ``rebuild_transform()`` on ``pca_drift()`` rebuild verdicts (the
    learned sidecar's only remedy). ``None`` (default) only surfaces
    pending verdicts as ``info()["status"] == "yellow"``. Requires
    ``indexing_threshold`` or a transform (no maintained layout
    otherwise); dense single-space collections."""
    os.makedirs(root, exist_ok=True)
    if collection_exists(root, name):
        return Collection(root, name)
    if vectors is not None:
        # named vector spaces (Qdrant vectors_config={name: ...}): each
        # space declares its own dim/metric/multivector; the vector
        # column is named after the space. Auto-indexing is
        # single-space-only (which space would the layout carve?).
        if any(v is not None for v in (
                dim, indexing_threshold, quantization, datatype,
                transform, pca_dim, drift_auto, hnsw_config)):
            raise ValueError(
                "named-vector collections take per-space config in "
                "`vectors`; top-level dim/indexing_threshold/"
                "quantization/datatype/transform/drift_auto/"
                "hnsw_config don't apply")
        meta = {"vectors": {}}
        for vname, cfg in vectors.items():
            unknown = sorted(set(cfg) - {
                "dim", "metric", "multivector", "normalize", "datatype",
                "quantization", "transform", "pca_dim", "k_centroids",
                "pq_blocks", "pq_codes"})
            if unknown:
                # a silently-dropped spec key (e.g. "datatype") would
                # hand the user different storage than they asked for
                raise ValueError(f"unknown key(s) {unknown} in vector "
                                 f"space {vname!r} config")
            if "dim" not in cfg:
                raise ValueError(f"vector space {vname!r} needs a dim")
            vm = cfg.get("metric", "cosine")
            space = {"dim": int(cfg["dim"]), "metric": vm,
                     "multivector": bool(cfg.get("multivector")),
                     "normalize": cfg.get("normalize", vm == "cosine")}
            space.update(_dense_space_rules(
                cfg["dim"], space["multivector"], cfg.get("quantization"),
                cfg.get("pq_blocks"), cfg.get("pq_codes"),
                cfg.get("datatype"), cfg.get("transform"),
                cfg.get("pca_dim")))
            if cfg.get("k_centroids") is not None:
                # compressed-space IVF cells of the space's PCA sidecar
                if "transform" not in space:
                    raise ValueError(_PCA_KNOBS)
                space["k_centroids"] = int(cfg["k_centroids"])
            meta["vectors"][vname] = space
    elif dim is None and sparse_vectors is not None:
        # sparse-only collection (Qdrant allows collections with only
        # sparse_vectors_config) — no dense space at all
        meta = {}
    else:
        if dim is None:
            raise ValueError(
                "dim is required (or pass `vectors`/`sparse_vectors`)")
        # Qdrant HnswConfigDiff (m, ef_construct, max_segment_size) —
        # the server builds one HNSW per segment past
        # indexing_threshold; here segments = the IVF cells, chunked to
        # max_segment_size (the routed composition)
        hnsw = None if hnsw_config is None else _hnsw_validate(
            hnsw_config, indexing_threshold, metric, quantization,
            transform)
        _drift_auto_rule(drift_auto, indexing_threshold, transform,
                         multivector)
        meta = {
            "dim": dim,
            "metric": metric,
            "multivector": multivector,
            "comparator": comparator or ("max_sim" if multivector else None),
            "normalize": metric == "cosine" if normalize is None
            else normalize,
            # the top-level pq_codes has a default: it counts under pq only
            **_dense_space_rules(
                dim, multivector, quantization, pq_blocks,
                pq_codes if quantization in ("pq", "opq") else None,
                datatype, transform, pca_dim),
        }
        if indexing_threshold is not None:
            meta["indexing_threshold"] = int(indexing_threshold)
        if indexing_threshold is not None or transform is not None:
            # the raw-vector IVF cells, or the PCA sidecar's
            # compressed-space cells that replace them
            meta["k_centroids"] = int(k_centroids)
        if hnsw is not None:
            meta["hnsw"] = hnsw
        if drift_auto is not None:
            meta["drift_auto"] = drift_auto
    if shard_key is not None:
        # the shard key column LEADS the partition layout (later
        # payload indexes nest under it, coarsest-first)
        meta["shard_key"] = shard_key
        meta["payload_indexes"] = [shard_key]
    if sparse_vectors is not None:
        # Qdrant sparse_vectors_config: named sparse spaces — points
        # carry `<name>__sidx` (ascending vocabulary ids) and
        # `<name>__sval` (weights); may coexist with dense spaces
        # (names must not collide). full_scan_threshold is Qdrant's
        # SparseIndexParams: once the collection reaches it, the upsert
        # persists the postings layout and searches probe that instead
        meta["sparse_vectors"] = {}
        for sname, cfg in sparse_vectors.items():
            if sname in meta.get("vectors", ()):
                raise ValueError(
                    f"sparse space {sname!r} collides with a dense "
                    "vector space of the same name")
            rules = _sparse_space_rules(sname, cfg)
            meta["sparse_vectors"][sname] = {"modifier": None, **{
                k: v for k, v in rules.items() if v is not None}}
    with open(os.path.join(root, f"{name}.meta.json"), "w") as f:
        json.dump(meta, f)
    return Collection(root, name)


# -- collection aliases (Qdrant update_collection_aliases) ----------------
#
# An alias is an indirection name -> collection, letting callers swap
# the collection behind a stable name (the blue/green reindex pattern:
# index into `docs_v2`, then atomically repoint alias `docs`). The
# mapping is one JSON file at the root; the create+delete batch is
# written in a single atomic rename, mirroring Qdrant's atomic alias
# update ops.


def _alias_path(root: str) -> str:
    return os.path.join(root, "_aliases.json")


def list_aliases(root: str) -> dict:
    """alias -> collection name mapping (empty if none)."""
    try:
        with open(_alias_path(root)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def update_aliases(root: str, create: dict | None = None,
                   delete: list | None = None) -> dict:
    """Apply alias ops as one atomic batch (Qdrant
    ``update_collection_aliases``): deletions first, then creations —
    so ``delete=["docs"], create={"docs": "docs_v2"}`` repoints
    atomically. Creating an alias that shadows a real collection name
    is rejected. Returns the new mapping."""
    aliases = list_aliases(root)
    for a in (delete or []):
        aliases.pop(a, None)
    for alias, target in (create or {}).items():
        if collection_exists(root, alias):
            raise ValueError(
                f"alias {alias!r} would shadow an existing collection")
        if not collection_exists(root, target):
            raise ValueError(f"alias target {target!r} does not exist")
        aliases[alias] = target
    tmp = _alias_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(aliases, f)
    os.replace(tmp, _alias_path(root))
    return aliases


def collection_aliases(root: str, name: str) -> list[str]:
    """Qdrant ``get_collection_aliases`` analog: the aliases pointing
    at one collection, sorted."""
    return sorted(a for a, target in list_aliases(root).items()
                  if target == name)


def resolve_collection(root: str, name: str) -> Collection:
    """Open a collection by name or alias (names win — Qdrant keeps
    aliases in a separate namespace consulted after collections)."""
    if collection_exists(root, name):
        return Collection(root, name)
    target = list_aliases(root).get(name)
    if target is None:
        raise ValueError(f"no collection or alias named {name!r}")
    return Collection(root, target)
