"""The search planner: one place that picks a read-path tier.

`Collection.search` and `Collection.search_batch` both resolve their
knobs here — Qdrant's query planner makes the same choice once per
segment (qdrant.tech/documentation/concepts/search/). `plan_search`
is pure: it reads the space config plus a few layout facts (has the
collection an IVF index, HNSW graphs on disk, ...) and returns a
frozen `SearchPlan`; the executors in `catalog.py` run it for Q ≥ 1
query vectors, picking the single-query or the batch operator leaf
from `SearchPlan.batch`.

Tiers (``SearchPlan.tier``):

- ``sparse`` — one sparse space (posting probe or array explode).
- ``exact`` — the flat scan.
- ``ivf`` — scan only the nprobe nearest IVF cells.
- ``hnsw`` — walk the probed cells' graphs, exact-rescore the beam.
- ``quant`` / ``composed`` — rank the codes sidecar (flat, or only
  the probed cells), exact-rescore the top ``m``.
- ``noscore`` — ``quantization_params={"rescore": False}``: the
  codes ranking IS the result.
- ``pca`` — rank the projected sidecar, exact-rescore the top ``m``.

Multivector spaces use ``exact`` / ``ivf`` / ``hnsw`` on the
mean-pooled routing vector, then an optional ``shortlist`` before the
exact MaxSim: ``codes`` (SQ codes, approximate MaxSim) or ``pooled``
(two-stage rescore on the pooled column).

Where single search and batches differ, the difference is one row
below, not a second ladder: a filtered graph walk (which needs the
`_hnsw_filter_stats` count) is single-search only, multivector
batches never route through IVF or graphs, and multivector batches
keep the codes shortlist under ``recall_target``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace
from typing import Callable

from .operators.knn import _DISTANCE_METRICS
from .operators.quant import trained

_QP_KEYS = {"ignore", "rescore", "oversampling"}


@dataclass(frozen=True)
class SearchKnobs:
    """The caller's search knobs, as passed to ``search`` /
    ``search_batch``, plus whether a shared filter (``filtered``) or
    a per-query filter list (``per_query``) is present."""
    k: int | None = 5
    exact: bool = False
    nprobe: int | None = None
    oversampling: float = 4.0
    rescore: int | None = None
    recall_target: float | None = None
    quantization_params: dict | None = None
    hnsw_ef: int | None = None
    formula: str | None = None
    filtered: bool = False
    per_query: bool = False


@dataclass(frozen=True)
class SearchPlan:
    """One resolved read path: the tier, the resolved knobs it runs
    with (``ef`` widened under a filter, ``m`` the shortlist depth),
    the active quantizer, and whether the codes shortlist reads only
    the probed IVF cells (``probe_codes``)."""
    tier: str
    batch: bool
    multivector: bool = False
    exact: bool = False
    nprobe: int | None = None
    ef: int | None = None
    m: int | None = None
    quantizer: str | None = None
    shortlist: str | None = None
    probe_codes: bool = False


def overlay_recall(cfg: dict, kn: SearchKnobs) -> SearchKnobs:
    """Overlay recall-target routing (routing.py — the measured
    BASELINE.md curves) onto the caller's knobs. Explicit knobs win:
    an ``exact=True`` / ``nprobe=`` / ``rescore=`` from the caller is
    never overridden; the target only fills what was left unset
    (``oversampling`` counts as unset at its 4.0 default). For flat
    multivector spaces the target maps to the two-stage rescore depth
    from the measured pooling-faithful curve."""
    from .routing import route_for_recall

    # an untrained quantizer has nothing to spend a miss on
    q = cfg.get("quantization") if trained(cfg) else None
    if q and cfg["indexed"] and cfg.get("codes_layout") != "cells":
        # no composed codes layout on disk: the indexed read path
        # can't spend a quantized miss budget, so route index-only
        q = None
    r = route_for_recall(
        kn.recall_target, indexed=cfg["indexed"], quantization=q,
        k_centroids=cfg["n_cells"], multivector=bool(cfg.get("multivector")),
        k=kn.k, hnsw=cfg["graphs"])
    if kn.exact or kn.nprobe is not None:
        return kn
    return replace(
        kn, exact=r["exact"], nprobe=r["nprobe"],
        oversampling=(r["oversampling"] if r["oversampling"] is not None
                      and kn.oversampling == 4.0 else kn.oversampling),
        rescore=kn.rescore if kn.rescore is not None else r["rescore"],
        hnsw_ef=kn.hnsw_ef if kn.hnsw_ef is not None else r.get("hnsw_ef"))


def plan_search(cfg: dict, knobs: SearchKnobs, n_queries: int | None,
                filter_stats: Callable[[], tuple | None] | None = None
                ) -> SearchPlan:
    """Pick the tier and resolve its knobs; raise ``ValueError`` for a
    knob the space can't honour.

    ``cfg`` is the searched space's config (`Collection._vector_cfg`)
    plus layout facts: ``sparse`` (a sparse space), ``indexed`` (IVF
    layout built), ``graphs`` (HNSW graphs on disk), ``hnsw_config``
    (created with one), ``collection_quantization``,
    ``graph_quantized`` (graphs walk decoded codes) and ``n_cells``.
    ``n_queries`` is None for ``search`` and the request count for
    ``search_batch`` — a batch of one keeps the batch rows and leaves.
    ``filter_stats`` returns `_hnsw_filter_stats`' ``(n_match,
    n_total)`` or None (too selective); it is called only when a
    filtered single search is otherwise eligible for the graph walk.
    """
    batch, kn = n_queries is not None, knobs
    if cfg.get("sparse"):
        if (kn.nprobe is not None or kn.exact or kn.rescore is not None
                or kn.formula is not None or kn.recall_target is not None
                or kn.quantization_params is not None):
            raise ValueError(
                "sparse search takes no dense-tier knobs (nprobe/exact/"
                "rescore/formula/recall_target/quantization_params)")
        if kn.per_query:
            raise ValueError("per-request filters are dense-batch-only; "
                             "sparse batches take one shared filter")
        return SearchPlan("sparse", batch)
    mv = bool(cfg.get("multivector"))
    if kn.per_query and mv:
        raise ValueError("per-query filters support dense collections "
                         "(pass one shared filter for multivector batches)")
    if kn.recall_target is not None:
        kn = overlay_recall(cfg, kn)
    k, exact, ef = kn.k, kn.exact, kn.hnsw_ef
    if ef is not None and not cfg["hnsw_config"]:
        raise ValueError("hnsw_ef needs a collection created with hnsw_config")
    qp = dict(kn.quantization_params or {})
    unknown = sorted(set(qp) - _QP_KEYS)
    if unknown:
        raise ValueError(f"unknown quantization_params key(s) {unknown}")
    no_rescore = qp.get("rescore", True) is False
    if mv and qp and not cfg.get("quantization"):
        raise ValueError("quantization_params need a quantized space")
    if mv and no_rescore:
        raise ValueError("multivector quantized search always rescores "
                         "(approximate MaxSim ranks are not returned)")
    os_ = (float(qp["oversampling"]) if qp.get("oversampling") is not None
           else kn.oversampling)
    filtered = kn.filtered or kn.per_query
    # the recall_target guard: when the router found no trusted ef at
    # the sub-target it set none — take the index-only path instead of
    # walking graphs at a default ef
    graph_ok = (cfg["graphs"] and cfg["indexed"] and not exact
                and k is not None
                and (kn.recall_target is None or ef is not None))
    plan = dict(batch=batch, multivector=mv, exact=exact, nprobe=kn.nprobe)
    if mv:
        return _plan_maxsim(cfg, kn, qp, os_, graph_ok and not batch,
                            filter_stats, plan)
    # filter-aware graph routing, single search only: a NON-selective
    # filter keeps the walk (beam widened below); rescore=False and
    # ignore=True opt out (codes rows carry no payload; ignore asked
    # for original-vector search)
    stats = None
    if (kn.filtered and not batch and graph_ok and not qp.get("ignore")
            and not no_rescore):
        stats = filter_stats()
    walk_ok = not filtered or stats is not None
    # the codes sidecar has no payload columns: a filter can't restrict
    # a codes shortlist, so a filtered search routes filter-correct
    # (the widened walk, else index-only or exact) — Qdrant's filtered
    # search likewise never drops matches to quantization. An
    # untrained quantizer (PQ below pq_codes rows) or ignore=True ranks
    # no codes either.
    quant = (cfg.get("quantization")
             if walk_ok and trained(cfg) and not qp.get("ignore") else None)
    cells = cfg["indexed"] and cfg.get("codes_layout") == "cells"
    if no_rescore:
        if not quant or exact:
            raise ValueError(
                "quantization_params rescore=False needs an active "
                "quantizer (trained, not ignored, no filter, exact=False)")
        if quant == "bq":
            raise ValueError("rescore=False supports sq/pq/opq (the binary "
                             "Hamming rank is not a similarity score)")
        if cfg.get("metric", "cosine") in _DISTANCE_METRICS:
            raise ValueError(
                "rescore=False returns inner-product-shaped quantized "
                "scores; distance-metric collections must rescore")
        if k is None:
            raise ValueError("rescore=False requires a finite k")
        return SearchPlan("noscore", m=k, quantizer=quant,
                          probe_codes=cells, **plan)
    m = max(k or 1, int(math.ceil((k or 1) * os_)))
    if (cfg.get("transform") == "pca" and cfg.get("pca_mu") and not exact
            and not filtered and k is not None):
        return SearchPlan("pca", m=m, **plan)
    if (graph_ok and walk_ok
            and (cfg["collection_quantization"] is None or quant)):
        ef = (int(ef) if ef is not None else max(
            4 * k, 64, int(math.ceil(k * os_))
            if cfg["graph_quantized"] else 0))
        if stats is not None:
            # the filter keeps m of n rows, so ceil(ef·n/m) candidates
            # leave ~ef after filtering — an integer ceiling, so the
            # oracle twin re-derives the same ef exactly
            ef = -(-ef * stats[1] // stats[0])
        return SearchPlan("hnsw", ef=ef, quantizer=quant, **plan)
    if cells and not exact and quant:
        return SearchPlan("composed", m=m, quantizer=quant, **plan)
    if cfg["indexed"] and not exact:
        return SearchPlan("ivf", **plan)
    if quant and not exact:
        return SearchPlan("quant", m=m, quantizer=quant, **plan)
    return SearchPlan("exact", **plan)


def _plan_maxsim(cfg: dict, kn: SearchKnobs, qp: dict, os_: float,
                 graph_ok: bool, filter_stats, plan: dict) -> SearchPlan:
    """Multivector rows: route on the mean-pooled query (graph walk or
    probed cells — single search only), then an optional shortlist
    before exact MaxSim."""
    k, rescore = kn.k, kn.rescore
    stats = filter_stats() if graph_ok and kn.filtered else None
    tier, ef = "exact", None
    if graph_ok and (not kn.filtered or stats is not None):
        # graphs were built over the pooled routing vectors, so the
        # beam IS stage 1: its candidates go straight to exact MaxSim
        tier = "hnsw"
        ef = (int(kn.hnsw_ef) if kn.hnsw_ef is not None
              else max(rescore or 0, 4 * k, 64))
        if stats is not None:
            ef = -(-ef * stats[1] // stats[0])  # ceil(ef / match frac)
    elif cfg["indexed"] and not kn.exact and not plan["batch"]:
        tier = "ivf"
    # codes tier (multivector × sq): approximate MaxSim over the int8
    # codes keeps max(k, rescore | ceil(k·oversampling)); any filter
    # skips it (codes carry no payload), and single-search
    # recall_target routes stay on the measured pooled curve
    if (not kn.filtered and trained(cfg) and not kn.exact and k is not None
            and (kn.recall_target is None or plan["batch"])
            and not qp.get("ignore")):
        m = (max(k, rescore) if rescore is not None
             else max(k, int(math.ceil(k * os_))))
        return SearchPlan(tier, ef=ef, m=m, quantizer=cfg["quantization"],
                          shortlist="codes",
                          probe_codes=(tier == "ivf" and cfg.get(
                              "codes_layout") == "cells"), **plan)
    if rescore is not None and not kn.exact and k is not None \
            and tier != "hnsw":
        return SearchPlan(tier, ef=ef, m=max(k, rescore),
                          shortlist="pooled", **plan)
    return SearchPlan(tier, ef=ef, **plan)
