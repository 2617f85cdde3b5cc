"""Segment-sharded HNSW — the reference's server-side graph index,
engine-native (SURVEY.md §4; closes VERDICT r8 "missing" #3).

The reference delegates ANN to Qdrant's HNSW, built per SEGMENT past
``indexing_threshold`` and searched by fanning the query over segments
and merging per-segment top-k
(``incremental_indexing_colpali_with_qdrant.py:132`` sets the
threshold; segment-local graphs are Qdrant's documented storage model).
That architecture is exactly shuffle-free in Spark terms:

- **segment = partition.** Rows are assigned a segment id by a
  deterministic rule (``id % n`` here; IVF cell id in the routed
  composition), and each graph lives entirely inside its segment — no
  cross-segment edges, so the build is ONE ``applyInPandas`` pass over
  ``groupBy(segment)`` and never shuffles again.
- **build once, probe many.** The graph is a parquet-able sidecar
  (``segment, vec_id, pos, level, links, embedding``) written
  ``partitionBy(segment)`` on a cluster; searches read it
  partition-pruned. Same one-time-build discipline as the IVF/PQ/SQ/BQ
  tiers.
- **one builder; a build is an insert into an empty segment.**
  ``hnsw_layout`` serves the first build and every append: rows that
  carry a stored ``pos``/``level``/``links`` are their segment's built
  prefix and resume (``hnsw_build_np(resume=)``), the rest insert in
  ``(vec_id, tie)`` order — so an append costs ∝ the new rows plus the
  one segment they land in, and stays bit-identical to a from-scratch
  build of the union (Qdrant's incremental upsert, determinism kept).
- **search = per-segment beam + global top-k.** The query vector is a
  closure-captured literal; each probed segment runs a beam search over
  its own graph (Arrow-batched, numpy inside) and emits ≤``ef``
  candidate ids; the union (bounded by ``ef × probed_segments``) is
  rescored with the engine's exact cosine via a literal-IN pruned scan
  and ``TakeOrderedAndProject`` — the established bounded-shortlist
  pattern (operators/pq.py, catalog quantized rescore).
- **routed composition (the 100 TB path).** With segments = IVF cells,
  a query probes only the ``nprobe`` nearest cells' graphs — per-query
  work is independent of corpus size outside the probed cells (the
  SPANN / IVF-front composition from the public literature), while
  within-cell search drops from a scan to a graph walk.

Determinism (the kmeans_np discipline — both the Spark builder and the
DuckDB oracle factory call THESE functions on the SAME rows, so their
graphs and shortlists are bit-identical):

- levels come from a splitmix64 hash of the point id (not an RNG whose
  draw order depends on partitioning);
- insertion order is ascending id; all candidate/neighbor ties break
  by (distance, id);
- distances are squared euclidean over unit-normalized float64 rows —
  elementwise ``(x−q)²`` + numpy pairwise ``sum`` (no BLAS GEMM whose
  reduction order varies with thread count) — monotone with the cosine
  the read path rescores with;
- the entry point is derived, not stored: the min-id node of the max
  level (insertion only ever *raises* the entry, so the first node to
  reach the max level keeps it).

``ef >= n`` provably degenerates to the exact scan: the result heap
never overflows, so every visited node is returned, and the search
restarts from unvisited nodes until the segment is covered (connected
or not) — that twin carries a static exact-scan oracle, value-checking
the whole traversal machinery with an oracle that embeds NO derived
literals (the ``ann_ivf_exhaustive_top5`` discipline).
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["hnsw_level", "hnsw_build_np", "hnsw_search_np",
           "hnsw_layout", "hnsw_layout_search_batch", "LAYOUT_SCHEMA"]

_LEVEL_CAP = 16  # < 1e-7 odds at m=8; bounds sidecar width
# elementwise-op budget for _select_heuristic's one-block pairwise
# fast path (n_c² · d): covers the overflow-prune lists (≤ 2m+1, the
# dominant call count) at any fixture dim while keeping the big
# ef_construct-sized beam selections on the lazy tail path — there
# the block's full-matrix tolist costs more than the ≤m lazy columns
# (measured: 3k×8-d build 4.0 → 4.3 s with the block at 64²·8)
_PAIR_BLOCK_BUDGET = 20_000


def _splitmix64(x: int) -> int:
    """SplitMix64 finalizer — a public-domain integer mix with full
    avalanche; deterministic across platforms (pure int ops)."""
    z = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def _id_int(node_id) -> int:
    """Integer image of a point id for level hashing: ints pass
    through; string ids (the catalog's uuid/sha256 point ids) hash
    via md5 — deterministic and platform-independent either way."""
    if isinstance(node_id, (int, np.integer)):
        return int(node_id)
    import hashlib

    return int(hashlib.md5(str(node_id).encode()).hexdigest()[:15], 16)


def hnsw_level(node_id, m: int) -> int:
    """HNSW level assignment ``floor(−ln(u)·mL)``, ``mL = 1/ln(m)``,
    with ``u ∈ (0,1)`` derived from a hash of the id instead of an RNG
    stream — the geometric level distribution of the HNSW paper
    (Malkov & Yashunin 2016), but independent of insertion order and
    partitioning, which is what makes a distributed build and its
    driver-side oracle twin agree bit-for-bit."""
    u = ((_splitmix64(_id_int(node_id)) >> 11) + 0.5) * (2.0 ** -53)
    return min(int(-math.log(u) / math.log(m)), _LEVEL_CAP)


def _normalize_rows(X: np.ndarray) -> np.ndarray:
    """Unit-normalize float64 rows (zero rows pass through) — after
    this, squared euclidean is monotone with cosine: 2 − 2·cos."""
    X = np.asarray(X, dtype=np.float64)
    n = np.sqrt((X * X).sum(axis=1))
    n[n == 0.0] = 1.0
    return X / n[:, None]


def _dists(Xn: np.ndarray, rows, q: np.ndarray) -> np.ndarray:
    """Squared euclidean from q to the given rows: elementwise diff²
    + pairwise sum along axis=1 — the deterministic (BLAS-free) form
    documented on kmeans_np; a 1-row batch produces the same bits as
    the n-row batch, so build and search agree however they chunk.
    (``D *= D`` and ``np.add.reduce`` are the same values/reduction
    ``(D * D).sum(axis=1)`` produces — this is the hot call of the
    graph build, so the ndarray-method dispatch layers matter.)"""
    D = Xn[rows] - q
    D *= D
    return np.add.reduce(D, axis=1)


def _search_layer(q, entries, ef, level, adj, Xn, visited=None,
                  dall=None):
    """Beam search on one layer. ``entries``: list of (dist, pos)
    seeds. Returns (results, visited): results ascending by (dist,
    pos), ≤ef of them; ties in the frontier and the result heap break
    on pos via tuple order, so traversal is fully deterministic.

    ``visited`` is a bool MASK (len n), not a set — the membership
    test was the hot loop of the build (a Python set op per edge);
    the mask form filters a whole neighbor list in one vectorized
    index (same candidates in the same order, so traversal is
    unchanged). Callers may pass a shared mask to continue a prior
    walk (the exhaustive restart), or None for a fresh one.

    ``dall`` (optional): q's PRECOMPUTED distance row to every node —
    the BUILD passes it (one vectorized ``_dists`` over the inserted
    prefix per point, amortizing ~300 tiny per-pop calls into one;
    per-row bits are identical by _dists' batch invariance, so the
    traversal is unchanged — the bit-parity pytest pins it). SEARCH
    never passes it: a query's walk must stay sub-linear in the
    segment, that's the point of the graph."""
    if visited is None:
        visited = np.zeros(len(Xn), dtype=bool)
    for _, p in entries:
        visited[p] = True
    cand = list(entries)
    heapq.heapify(cand)
    # result max-heap: (-dist, -pos) so the farthest (then largest id)
    # overflows first — any fixed rule works, this one is stable.
    res = [(-d, -p) for d, p in entries]
    heapq.heapify(res)
    while len(res) > ef:
        heapq.heappop(res)
    ditem = None if dall is None else dall.item
    while cand:
        d, p = heapq.heappop(cand)
        if len(res) >= ef and d > -res[0][0]:
            break
        nbrs = adj[p][level] if level < len(adj[p]) else []
        if len(nbrs) == 0:
            continue
        if ditem is not None:
            # pure-Python per-pop path when the distance row is
            # precomputed: the numpy round-trip (asarray + two fancy
            # indexes + tolist) cost ~10 µs per pop for ~10-element
            # neighbor lists — list comprehension + scalar .item()
            # reads the SAME float64 bits in ~1/3 the time. The fresh
            # list is computed BEFORE marking (identical duplicate
            # semantics to the mask-filter form), in nbrs order.
            fresh = [x for x in nbrs if not visited[x]]
            if not fresh:
                continue
            for x in fresh:
                visited[x] = True
            dd = [ditem(x) for x in fresh]
        else:
            nb = np.asarray(nbrs, dtype=np.int64)
            fr = nb[~visited[nb]]
            if fr.size == 0:
                continue
            visited[fr] = True
            # .tolist() keeps the exact float64 values but hands the
            # heap loop PYTHON floats — np.float64 tuple comparisons
            # inside heappush/heapreplace were a measured chunk of
            # the build
            dd = _dists(Xn, fr, q).tolist()
            fresh = fr.tolist()
        for nb_, nd in zip(fresh, dd):
            if len(res) < ef:
                heapq.heappush(res, (-nd, -nb_))
                heapq.heappush(cand, (nd, nb_))
            elif nd < -res[0][0]:
                heapq.heapreplace(res, (-nd, -nb_))
                heapq.heappush(cand, (nd, nb_))
    return sorted((-d, -p) for d, p in res), visited


def _select_heuristic(cand, cap, Xn):
    """Neighbor selection heuristic (Malkov & Yashunin Algorithm 4):
    walk candidates ascending by (dist-to-base, pos); keep one only if
    it is closer to the base than to every already-kept neighbor — on
    clustered data this preserves the inter-cluster bridges that
    plain nearest-M selection prunes into cliques (measured on the
    clustered sweep: recall@10 ceiling 0.97 → 1.0 at ef=64). Pruned
    candidates backfill nearest-first if fewer than ``cap`` survive
    (the keepPrunedConnections variant), so degree stays full.
    Deterministic: ascending tuple order in, sorted tuples out.

    Vectorized per KEPT member, not per candidate: when member j is
    kept at index i, its distances to the REMAINING candidates
    ``rows[i+1:]`` land in one ``_dists`` call (per-row bits identical
    to per-candidate calls by _dists' batch invariance; earlier
    candidates never read the column, so the tail suffices — half the
    work of the full-row form). The min test then reads precomputed
    columns. 2.1 s → 0.3 s of a 5.7 s 2k×64 build.

    SMALL candidate lists (the overflow-prune path: ≤ 2m+1 entries,
    the dominant call count of the whole build) instead compute ONE
    pairwise (n_c × n_c × d) block — elementwise diff² +
    ``np.add.reduce`` along the contiguous last axis produces the
    SAME bits per entry as the per-row ``_dists`` columns (verified
    exactly), replacing up to cap tiny calls with one; the budget
    keeps the big beam-selection calls on the lazy tail-column path
    where the block would overshoot."""
    sel: list = []
    rejected = []
    rows = np.fromiter((p for _, p in cand), dtype=np.int64,
                       count=len(cand))
    n_c = len(cand)
    if 1 < n_c and n_c * n_c * Xn.shape[1] <= _PAIR_BLOCK_BUDGET:
        R = Xn[rows]
        D = R[:, None, :] - R[None, :, :]
        D *= D
        M = np.add.reduce(D, axis=2).tolist()
        kept: list[int] = []
        for i, (d, p) in enumerate(cand):
            if len(sel) == cap:
                break
            if kept:
                # first-minimum semantics identical to the column
                # walk: min() keeps the earliest minimal value
                best = min(M[j][i] for j in kept)
                if not d < best:
                    rejected.append((d, p))
                    continue
            sel.append((d, p))
            kept.append(i)
        for d, p in rejected:
            if len(sel) == cap:
                break
            sel.append((d, p))
        return sorted(sel)
    # cols[j] = (off, col) with col[i - off] = dist(cand[i], sel[j]),
    # computed only over candidates after the index where sel[j] was
    # kept (off = that index + 1)
    cols: list[tuple[int, list]] = []
    for i, (d, p) in enumerate(cand):
        if len(sel) == cap:
            break
        if sel:
            off0, col0 = cols[0]
            best = col0[i - off0]
            for off, col in cols[1:]:
                v = col[i - off]
                if v < best:
                    best = v
            if not d < best:
                rejected.append((d, p))
                continue
        sel.append((d, p))
        if len(sel) < cap and i + 1 < len(cand):
            cols.append((i + 1,
                         _dists(Xn, rows[i + 1:], Xn[p]).tolist()))
    for d, p in rejected:
        if len(sel) == cap:
            break
        sel.append((d, p))
    return sorted(sel)


def hnsw_build_np(ids, X, m: int = 8, ef_construct: int = 64,
                  normalize: bool = True, resume=None):
    """Deterministic HNSW construction over one segment.

    ``ids`` must be ascending (the insertion order — ints or the
    catalog's string point ids); ``X`` row-aligned. Returns
    ``(levels, adj)`` where ``adj[pos][level]`` is the
    neighbor-position list. Standard incremental insert: greedy descent
    on layers above the node's level, ef_construct beam on the rest,
    diversity-heuristic neighbor selection (``_select_heuristic``),
    bidirectional links, overflow pruned by the same heuristic to M
    (2M on layer 0) — all ties by (dist, pos).
    ``normalize=True`` serves cosine collections (Qdrant's own
    upsert-time normalization — euclid on unit vectors is monotone
    with cosine); pass False for euclid-metric collections so the
    graph lives in the metric's own space.

    ``resume=(levels0, adj0)`` CONTINUES a prior build: the first
    ``len(levels0)`` rows of ``ids``/``X`` are the already-built
    segment in its build order (levels/adjacency as returned then),
    and only the remaining rows insert. Because insertion is a pure
    left-to-right fold over (levels, adj) and the running entry point
    is derivable from the prefix alone (``derive_entry`` — insertion
    only ever raises it), resume-from-state is BIT-IDENTICAL to
    building the union from scratch — provided every resumed id sorts
    after (``>``) every built id, which is the caller's append-only
    precondition (tests/test_hnsw.py pins the parity). Qdrant inserts
    into live graphs the same way; this is that operation with the
    determinism kept.

    Equal ids are ALLOWED (the catalog's append mode reproduces the
    reference's duplicate-on-reindex semantics, so a cell can hold
    one id twice): duplicates get the same level and insert in their
    given order — a failed build here would strand the collection
    mid-upsert with the main table written and the graphs stale."""
    ids = list(ids)
    if any(ids[i] > ids[i + 1] for i in range(len(ids) - 1)):
        raise ValueError("ids must be ascending")
    Xn = (_normalize_rows(X) if normalize
          else np.asarray(X, dtype=np.float64))
    n = len(ids)
    levels = [hnsw_level(i, m) for i in ids]
    adj0 = None
    if resume is not None:
        levels0, adj0 = resume
        if len(levels0) > n:
            raise ValueError("resume state larger than the segment")
    if n >= 2 and _native_usable():
        from . import hnsw_native

        built = hnsw_native.native_build(Xn, levels, m, ef_construct,
                                         adj0=adj0)
        if built is not None:
            return levels, built
    return levels, _build_py(Xn, levels, m, ef_construct, adj0)


def _build_py(Xn: np.ndarray, levels: list[int], m: int,
              ef_construct: int, adj0=None):
    """The pure-Python insert loop — the portable reference the C
    kernel (`_hnsw_kernel.c`) is bit-checked against at load time
    (``_native_usable``) and in tests/test_hnsw_native.py."""
    n = len(levels)
    if adj0 is None:
        adj: list[list[list[int]]] = [[[] for _ in range(levels[p] + 1)]
                                      for p in range(n)]
        start = 0
    else:
        start = len(adj0)
        # stored levels are the same deterministic id hash — trust but
        # keep the recomputed list (one source of truth for new rows)
        adj = [[list(nb) for nb in row] for row in adj0]
        adj += [[[] for _ in range(levels[p] + 1)]
                for p in range(start, n)]
    entry, entry_level = -1, -1
    if start > 0:
        entry = derive_entry(levels[:start])
        entry_level = levels[entry]
    for p in range(start, n):
        lv = levels[p]
        if entry < 0:
            entry, entry_level = p, lv
            continue
        q = Xn[p]
        # one vectorized distance row to the whole built prefix —
        # every layer of this insertion reads it instead of issuing
        # per-pop _dists calls (same bits; see _search_layer's dall).
        # Only while the prefix row is CHEAPER than the ~ef_construct
        # small calls it replaces (p·d flops vs ~35 calls × ~6 µs —
        # measured crossover ≈ 512k elementwise ops); past the budget
        # the walk goes back to on-demand per-pop distances, so big
        # segments never pay O(n²)
        if p * Xn.shape[1] <= 512_000:
            D = Xn[:p] - q
            D *= D
            dall = np.add.reduce(D, axis=1)
            ep = [(float(dall[entry]), entry)]
        else:
            dall = None
            ep = [(float(_dists(Xn, [entry], q)[0]), entry)]
        for lc in range(entry_level, lv, -1):
            ep = [_search_layer(q, ep, 1, lc, adj, Xn,
                                dall=dall)[0][0]]
        for lc in range(min(lv, entry_level), -1, -1):
            cand, _ = _search_layer(q, ep, ef_construct, lc, adj,
                                    Xn, dall=dall)
            cap = 2 * m if lc == 0 else m
            for _, nb in _select_heuristic(cand, m, Xn):
                adj[p][lc].append(nb)
                adj[nb][lc].append(p)
                if len(adj[nb][lc]) > cap:
                    dd = _dists(Xn, adj[nb][lc], Xn[nb]).tolist()
                    adj[nb][lc] = [x for _, x in _select_heuristic(
                        sorted(zip(dd, adj[nb][lc])), cap, Xn)]
            ep = cand
        if lv > entry_level:
            entry, entry_level = p, lv
    return adj


_NATIVE_OK: bool | None = None


def _native_usable() -> bool:
    """One-time gate for the C kernel: it must load AND reproduce the
    Python builder/searcher bit-for-bit on a probe fixture (clustered
    float64, the dims that exercise every branch of numpy's pairwise
    summation the kernel ports: <8 sequential, ≤128 unrolled, >128
    recursive) — including a resume continuation. Any divergence (a
    foreign compiler contracting FMAs, a numpy whose reduction tree
    changed) silently pins the process to the Python path, so the
    kernel can only ever change throughput, never results."""
    global _NATIVE_OK
    if _NATIVE_OK is not None:
        return _NATIVE_OK
    from . import hnsw_native

    if hnsw_native.load() is None:
        _NATIVE_OK = False
        return False
    if hnsw_native.probe_ok_cached():
        # another process on this box already certified this exact
        # kernel digest against this numpy — skip the rebuild probe
        # (forked Python workers would otherwise each pay it)
        _NATIVE_OK = True
        return True
    try:
        rng = np.random.default_rng(0xC0FFEE)
        ok = True
        for d in (5, 64, 200):
            centers = rng.standard_normal((8, d))
            X = np.repeat(centers, 20, axis=0) + \
                0.15 * rng.standard_normal((160, d))
            Xn = _normalize_rows(X)
            levels = [hnsw_level(i, 8) for i in range(160)]
            py = _build_py(Xn, levels, 8, 64, None)
            nat = hnsw_native.native_build(Xn, levels, 8, 64, None)
            ok &= nat == py
            # resume continuation: build the 100-point prefix alone,
            # then append the rest — must equal the from-scratch build
            # (the documented append-only resume invariant)
            py0 = _build_py(Xn[:100], levels[:100], 8, 64, None)
            nat2 = hnsw_native.native_build(Xn, levels, 8, 64,
                                            adj0=py0)
            ok &= nat2 == py
            # search parity at a few beam widths
            packed = hnsw_native.pack_graph(levels, py)
            Xc = np.ascontiguousarray(Xn)
            for ef in (1, 10, 64):
                q = _normalize_rows(
                    rng.standard_normal((1, d)))[0]
                want = _search_py(levels, py, Xn, q, ef)
                got = hnsw_native.native_search(packed, Xc, q, ef)
                ok &= (got is not None
                       and [(d_, int(p_)) for d_, p_ in got] == want)
            if not ok:
                break
        _NATIVE_OK = bool(ok)
        if _NATIVE_OK:
            hnsw_native.mark_probe_ok()
    except Exception:
        _NATIVE_OK = False
    return _NATIVE_OK


def derive_entry(levels) -> int:
    """The derived entry point: min-pos node of the max level (see
    module docstring — insertion only raises the entry, so the first
    node to reach the max level holds it)."""
    top = max(levels)
    return min(p for p, lv in enumerate(levels) if lv == top)


def hnsw_search_np(levels, adj, Xn, qvec, ef: int,
                   normalize: bool = True, packed=None):
    """Beam search over one built segment (``Xn`` in the same space
    the graph was built in). Returns candidate POSITIONS ascending by
    (dist, pos), ≤ef of them. With ``ef >= n`` the result heap never
    overflows, so results == visited; any shortfall means unvisited
    components remain and the search restarts from the smallest
    unvisited position until the segment is covered — the
    provably-exhaustive mode the static-oracle twin registers (that
    mode always walks the Python path; the C kernel serves the
    sub-linear case). ``packed`` (optional) is a reused
    ``hnsw_native.pack_graph`` result so the layout walk pays the
    adjacency flattening once per segment, not per query."""
    n = len(levels)
    q = np.asarray(qvec, dtype=np.float64)
    if normalize:
        q = _normalize_rows(q[None, :])[0]
    if ef < n and _native_usable():
        from . import hnsw_native

        if packed is None:
            packed = hnsw_native.pack_graph(levels, adj)
        got = hnsw_native.native_search(
            packed, np.ascontiguousarray(
                np.asarray(Xn, dtype=np.float64)), q, ef)
        if got is not None:
            return [(dd, int(pp)) for dd, pp in got]
    return _search_py(levels, adj, Xn, q, ef)


def _search_py(levels, adj, Xn, q, ef):
    """Pure-Python beam (+ exhaustive restart) — the reference the C
    search kernel is bit-checked against; ``q`` already normalized."""
    n = len(levels)
    entry = derive_entry(levels)
    ep = [(float(_dists(Xn, [entry], q)[0]), entry)]
    for lc in range(levels[entry], 0, -1):
        ep = [_search_layer(q, ep, 1, lc, adj, Xn)[0][0]]
    res, visited = _search_layer(q, ep, ef, 0, adj, Xn)
    if ef >= n:
        while not visited.all():
            seed = int(np.flatnonzero(~visited)[0])
            sd = float(_dists(Xn, [seed], q)[0])
            # continue on the SHARED mask: the restart explores only
            # still-unvisited territory, and with ef >= n its result
            # heap never overflows, so every newly visited node lands
            # in `more` — the union still covers the segment exactly
            more, visited = _search_layer(q, [(sd, seed)], ef, 0,
                                          adj, Xn, visited=visited)
            res = sorted(set(res) | set(more))
    return res


# --- Spark layout build + per-segment search ------------------------------

LAYOUT_SCHEMA = ("segment bigint, vec_id bigint, pos int, level int, "
                 "links array<array<bigint>>, embedding array<double>")
# ``links[level]`` holds neighbor POSITIONS in the segment's BUILD
# order (not ids): the searcher restores that order by sorting on the
# persisted ``pos`` column and then uses the Arrow-delivered arrays
# directly — no per-query id→position conversion over every node,
# which dominated the read path (100k stress, same box: 10.4 s →
# 1.4 s per query). ``pos`` is explicit (not re-derived from a
# vec_id sort) so duplicate ids — allowed by append mode — can never
# bind adjacency to the wrong rows if a multi-file partition read
# reorders equal-id rows. Ids stay recoverable as ``vec_id[pos]``.
#
# QUANTIZED layouts (hnsw_config × quantization — Qdrant's documented
# large-corpus posture: graph walk over compressed codes + exact
# full-width rescore) replace the ``embedding array<double>`` column
# with the quantizer's code column(s) (``data_cols``/``data_schema``)
# and decode them back to float64 rows with a ``decode`` callable —
# the SAME callable at build and search time, so the walk happens in
# exactly the space the graph was built in. The sidecar then stores
# codes + links only: 4-32× smaller than a full-vector graph sidecar,
# which is the entire point at 100 TB (the full-width vectors are
# touched only by the bounded literal-IN rescore).


def _default_decode(pdf: pd.DataFrame) -> np.ndarray:
    """Stack the plain ``embedding`` column to float64 rows — the
    unquantized layouts' decode."""
    return np.asarray([np.asarray(v, dtype=np.float64)
                       for v in pdf["embedding"]])


def hnsw_layout(df: DataFrame, n_segments: int | None = None,
                seg_col: str | None = None, m: int = 8,
                ef_construct: int = 64, id_col: str = "vec_id",
                vec_col: str = "embedding", id_type: str = "bigint",
                normalize: bool = True,
                tie_col: str | None = None,
                data_cols: list[str] | None = None,
                data_schema: str | None = None,
                decode=None) -> DataFrame:
    """The graph builder: ONE ``applyInPandas`` pass over
    ``groupBy(segment)``; each group builds its own graph with
    ``hnsw_build_np`` and emits one row per node carrying its
    per-level neighbor-position lists and (double-widened) vector. On
    a cluster the result is written ``partitionBy(segment)`` — the
    sidecar IS the index, probed partition-pruned ever after. Segment
    rule: ``id % n_segments`` (uniform for assigned ids), or an
    existing ``seg_col`` (the routed composition passes the IVF cell
    id). ``tie_col`` (optional, bigint) pins the insertion order of
    DUPLICATE ids (sort key becomes ``(vec_id, tie)``) so the build
    is bit-reproducible run-to-run even when append mode has stored
    one id twice; without it equal-id order follows row arrival.
    ``data_cols``/``data_schema``/``decode`` select the QUANTIZED
    layout form (module comment above): the named code columns ride
    through in place of ``embedding`` and ``decode(pdf) -> float64
    rows`` reconstructs the space the graph is built in.

    A from-scratch build is an insert into an empty segment. When
    ``df`` carries a layout's own ``pos``/``level``/``links`` columns,
    rows with those set are their segment's BUILT PREFIX (e.g. read
    back from the sidecar): the group resumes it via
    ``hnsw_build_np(resume=)`` and its other rows insert after it, so
    an append costs ∝ the new rows plus one segment read, and every
    prefix row is re-emitted (inserts add links into them). The
    result is bit-identical to building the union from scratch —
    provided every new id sorts strictly after the prefix's ids
    (checked per group; a violation raises rather than shipping a
    graph that differs from its oracle twin)."""
    if (n_segments is None) == (seg_col is None):
        raise ValueError("exactly one of n_segments / seg_col")
    if (decode is None) != (data_cols is None) or \
            (decode is None) != (data_schema is None):
        raise ValueError(
            "data_cols, data_schema and decode come as a trio")
    seg = (F.pmod(F.col(id_col), F.lit(n_segments)).cast("bigint")
           if seg_col is None else F.col(seg_col).cast("bigint"))
    cols = [seg.alias("segment"),
            F.col(id_col).cast(id_type).alias("vec_id")]
    if decode is None:
        data_cols = ["embedding"]
        data_schema = "embedding array<double>"
        decode = _default_decode
        cols.append(F.col(vec_col).cast("array<double>")
                    .alias("embedding"))
    else:
        cols.extend(F.col(c) for c in data_cols)
    if tie_col is not None:
        cols.append(F.col(tie_col).cast("bigint").alias("__tie"))
    resumable = {"pos", "level", "links"} <= set(df.columns)
    if resumable:
        cols += ["pos", "level", "links"]
    base = df.select(*cols)
    schema = (f"segment bigint, vec_id {id_type}, pos int, level int, "
              f"links array<array<bigint>>, {data_schema}")
    sort_keys = (["vec_id"] if tie_col is None
                 else ["vec_id", "__tie"])
    dcols = list(data_cols)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        resume = None
        if resumable and pdf["pos"].notna().any():
            built = pdf["pos"].notna()
            old = pdf[built].sort_values("pos", kind="stable")
            new = pdf[~built].sort_values(sort_keys, kind="stable")
            if len(new) and \
                    not old["vec_id"].iloc[-1] < new["vec_id"].iloc[0]:
                raise ValueError(
                    "hnsw insert requires new ids strictly above the "
                    "segment's existing ids (caller routes overlaps to "
                    "the full rebuild)")
            pdf = pd.concat([old, new], ignore_index=True)
            resume = ([int(x) for x in old["level"]],
                      [[[int(x) for x in nb] for nb in row]
                       for row in old["links"]])
        else:
            pdf = pdf.sort_values(sort_keys, kind="stable")
        ids = pdf["vec_id"].tolist()
        X = decode(pdf)
        levels, adj = hnsw_build_np(ids, X, m=m,
                                    ef_construct=ef_construct,
                                    normalize=normalize, resume=resume)
        out = {
            "segment": pdf["segment"].iloc[0],
            "vec_id": ids,
            "pos": list(range(len(ids))),
            "level": levels,
            "links": adj,  # positions in build (pos) order
        }
        for c in dcols:
            out[c] = list(pdf[c])
        return pd.DataFrame(out)

    from .skew import pin_group_parallelism

    # per-segment builds are heavy Python work over a small shuffle —
    # pin the exchange so AQE cannot serialize them into one task
    return pin_group_parallelism(base, "segment").groupBy(
        "segment").applyInPandas(build, schema)


def hnsw_layout_search_batch(layout: DataFrame, queries, ef: int,
                             segments: list[int] | None = None,
                             query_segments: dict | None = None,
                             id_type: str = "bigint",
                             normalize: bool = True,
                             decode=None) -> DataFrame:
    """Per-segment beam search over a built layout for Q ≥ 1 queries:
    ``queries`` is a list of ``(query_id, vector)`` (one search is
    ``[(0, q)]``). Every query shares ONE segment deserialize +
    normalize pass (the engine's batch-shares-one-pass discipline —
    sparse/quantized batches do the same), which is the dominant
    per-query cost at scale (measured on the 100k stress: the walk is
    µs, the Arrow deserialize is the read path). ``segments`` prunes
    the probe to a literal IN — partition pruning when the layout is
    written ``partitionBy(segment)`` (the routed composition passes
    the nprobe nearest cells); ``query_segments`` (query_id → iterable
    of segment ids) restricts each query to ITS OWN probed cells — the
    scan prunes to the union, each query walks only its probe set, so
    a batch ≡ per-query searches exactly. ``decode`` must be the SAME
    callable the layout was built with (quantized layouts — module
    comment above); None reads the plain ``embedding`` column. Emits
    ``(segment, query_id, vec_id)`` candidates, ≤ef per (query,
    segment); the caller rescores the bounded union exactly."""
    if query_segments is not None and segments is None:
        segments = sorted({int(s) for ss in query_segments.values()
                           for s in ss})
    if segments is not None:
        layout = layout.filter(F.col("segment").isin([int(s) for s
                                                      in segments]))
    qlist = [(int(qid), [float(x) for x in qv]) for qid, qv in queries]
    qsegs = (None if query_segments is None else
             {int(q): {int(s) for s in ss}
              for q, ss in query_segments.items()})
    decode = _default_decode if decode is None else decode
    # sidecars persisted before the pos column existed restore build
    # order by vec_id (their ids were unique by construction — append
    # mode only ever writes pos-bearing layouts)
    sort_col = "pos" if "pos" in layout.columns else "vec_id"

    def search(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_col, kind="stable")
        seg = int(pdf["segment"].iloc[0])
        ids = pdf["vec_id"].tolist()
        levels = pdf["level"].tolist()
        # links are POSITIONS in build (pos) order (see LAYOUT_SCHEMA):
        # the Arrow arrays are the adjacency, no conversion pass
        adj = pdf["links"].tolist()
        X = decode(pdf)
        Xn = _normalize_rows(X) if normalize else X
        walks = [(qid, qv) for qid, qv in qlist
                 if qsegs is None or seg in qsegs.get(qid, ())]
        # flatten the adjacency ONCE per walked segment for the C beam
        # (the condition under which hnsw_search_np would pack it)
        packed = None
        if walks and len(levels) > ef and _native_usable():
            from . import hnsw_native

            packed = hnsw_native.pack_graph(levels, adj)
        out_q: list[int] = []
        out_v: list[int] = []
        for qid, qv in walks:
            res = hnsw_search_np(levels, adj, Xn, qv, ef=ef,
                                 normalize=normalize, packed=packed)
            out_q += [qid] * len(res)
            out_v += [ids[p] for _, p in res]
        return pd.DataFrame({
            "segment": seg,
            "query_id": out_q,
            "vec_id": out_v,
        })

    # no pin_group_parallelism here (unlike the builds): a walk's work
    # is proportional to the bytes it deserializes, so AQE sizing the
    # exchange by bytes is right, and each extra Python task costs a
    # fixed ~0.2-0.27 s of worker CPU (SCALE.md)
    return layout.groupBy("segment").applyInPandas(
        search, f"segment bigint, query_id bigint, vec_id {id_type}")
