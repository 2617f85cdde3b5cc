"""Table test of the search planner (`search_plan.plan_search`).

Pure Python, no SparkSession: every tier row for a single search
(``n_queries=None``) and a 3-query batch, the rows where the two
differ, and every guard's ``ValueError``.
"""

import pytest

from image_indexing_and_retrival_with_qdrant_spark.search_plan import (
    SearchKnobs,
    plan_search,
)


def _cfg(**kw):
    base = dict(dim=8, metric="cosine", indexed=False, graphs=False,
                hnsw_config=False, collection_quantization=None,
                graph_quantized=False, n_cells=16)
    base.update(kw)
    return base


SQ = dict(quantization="sq", sq_mins=[0.0] * 8, sq_steps=[1.0] * 8,
          collection_quantization="sq")
IVF = dict(indexed=True)
HNSW = dict(indexed=True, graphs=True, hnsw_config=True)
MV = dict(multivector=True)


def _no_stats():
    raise AssertionError("filter stats computed for a plan that can't "
                         "walk the graph under a filter")


# (case, cfg, knobs, filter stats or None, single expected, batch
# expected); an expected value is the dict of SearchPlan fields to check
ROWS = [
    ("exact", _cfg(), {}, None,
     dict(tier="exact"), dict(tier="exact")),
    ("exact knob on ivf", _cfg(**IVF), dict(exact=True), None,
     dict(tier="exact", exact=True), dict(tier="exact", exact=True)),
    ("ivf", _cfg(**IVF), dict(nprobe=2), None,
     dict(tier="ivf", nprobe=2), dict(tier="ivf", nprobe=2)),
    ("ivf under a filter", _cfg(**IVF), dict(filtered=True), None,
     dict(tier="ivf"), dict(tier="ivf")),
    ("flat quant", _cfg(**SQ), {}, None,
     dict(tier="quant", m=20, quantizer="sq"),
     dict(tier="quant", m=20, quantizer="sq")),
    ("quant oversampling param", _cfg(**SQ),
     dict(quantization_params={"oversampling": 2.0}), None,
     dict(tier="quant", m=10), dict(tier="quant", m=10)),
    ("quant skipped under a filter", _cfg(**SQ), dict(filtered=True), None,
     dict(tier="exact"), dict(tier="exact")),
    ("quant skipped per-query", _cfg(**SQ), dict(per_query=True), None,
     None, dict(tier="exact")),
    ("quant ignored", _cfg(**SQ),
     dict(quantization_params={"ignore": True}), None,
     dict(tier="exact", quantizer=None), dict(tier="exact")),
    ("untrained pq", _cfg(quantization="pq", collection_quantization="pq"),
     {}, None, dict(tier="exact"), dict(tier="exact")),
    ("composed", _cfg(codes_layout="cells", **IVF, **SQ), {}, None,
     dict(tier="composed", m=20), dict(tier="composed", m=20)),
    ("quantized ivf, flat codes", _cfg(**IVF, **SQ), {}, None,
     dict(tier="ivf"), dict(tier="ivf")),
    ("noscore", _cfg(**SQ), dict(quantization_params={"rescore": False}),
     None, dict(tier="noscore", m=5, probe_codes=False),
     dict(tier="noscore", m=5, probe_codes=False)),
    ("noscore composed", _cfg(codes_layout="cells", **IVF, **SQ),
     dict(quantization_params={"rescore": False}), None,
     dict(tier="noscore", probe_codes=True),
     dict(tier="noscore", probe_codes=True)),
    ("pca", _cfg(transform="pca", pca_mu=[0.0] * 8, **IVF), {}, None,
     dict(tier="pca", m=20), dict(tier="pca", m=20)),
    ("pca untrained", _cfg(transform="pca"), {}, None,
     dict(tier="exact"), dict(tier="exact")),
    ("pca skipped under a filter",
     _cfg(transform="pca", pca_mu=[0.0] * 8), dict(filtered=True), None,
     dict(tier="exact"), dict(tier="exact")),
    ("hnsw", _cfg(**HNSW), {}, None,
     dict(tier="hnsw", ef=64), dict(tier="hnsw", ef=64)),
    ("hnsw ef knob", _cfg(**HNSW), dict(hnsw_ef=40, k=3), None,
     dict(tier="hnsw", ef=40), dict(tier="hnsw", ef=40)),
    ("hnsw over codes", _cfg(graph_quantized=True, **HNSW, **SQ),
     dict(k=20), None, dict(tier="hnsw", ef=80, quantizer="sq"),
     dict(tier="hnsw", ef=80)),
    ("hnsw over codes, ignore", _cfg(graph_quantized=True, **HNSW, **SQ),
     dict(quantization_params={"ignore": True}), None,
     dict(tier="ivf"), dict(tier="ivf")),
    ("hnsw exact knob", _cfg(**HNSW), dict(exact=True), None,
     dict(tier="exact"), dict(tier="exact")),
    # Q=1 only: a non-selective filter widens the walk; batches route
    # index-only and never compute the stats
    ("hnsw filtered, non-selective", _cfg(**HNSW), dict(filtered=True),
     (50, 100), dict(tier="hnsw", ef=128), dict(tier="ivf")),
    ("hnsw filtered, selective", _cfg(**HNSW), dict(filtered=True),
     "selective", dict(tier="ivf"), dict(tier="ivf")),
    ("hnsw per-query filters", _cfg(**HNSW), dict(per_query=True), None,
     None, dict(tier="ivf")),
    ("hnsw recall target with trusted ef", _cfg(**HNSW),
     dict(recall_target=0.9), None,
     dict(tier="hnsw", ef=32, nprobe=4), dict(tier="hnsw", ef=32)),
    ("hnsw recall target without trusted ef", _cfg(**HNSW),
     dict(recall_target=0.99), None,
     dict(tier="ivf", nprobe=2), dict(tier="ivf", nprobe=2)),
    ("recall target at the exact cutover", _cfg(**IVF),
     dict(recall_target=1.0), None,
     dict(tier="exact", exact=True), dict(tier="exact", exact=True)),
    ("explicit nprobe wins over recall target", _cfg(**IVF),
     dict(recall_target=1.0, nprobe=3), None,
     dict(tier="ivf", nprobe=3, exact=False), dict(tier="ivf", nprobe=3)),
    ("sparse", _cfg(sparse=True), {}, None,
     dict(tier="sparse"), dict(tier="sparse")),
    # multivector: batches never route through IVF or graphs
    ("maxsim", _cfg(**MV), {}, None,
     dict(tier="exact", shortlist=None, multivector=True),
     dict(tier="exact", shortlist=None)),
    ("maxsim ivf", _cfg(**MV, **IVF), {}, None,
     dict(tier="ivf"), dict(tier="exact")),
    ("maxsim hnsw", _cfg(**MV, **HNSW), dict(rescore=100), None,
     dict(tier="hnsw", ef=100, shortlist=None),
     dict(tier="exact", shortlist="pooled", m=100)),
    ("maxsim hnsw filtered", _cfg(**MV, **HNSW), dict(filtered=True),
     (25, 100), dict(tier="hnsw", ef=256), dict(tier="exact")),
    ("maxsim hnsw filtered, selective", _cfg(**MV, **HNSW),
     dict(filtered=True), "selective", dict(tier="ivf"),
     dict(tier="exact")),
    ("maxsim pooled", _cfg(**MV), dict(rescore=10), None,
     dict(tier="exact", shortlist="pooled", m=10),
     dict(tier="exact", shortlist="pooled", m=10)),
    ("maxsim pooled skipped when exact", _cfg(**MV),
     dict(rescore=10, exact=True), None,
     dict(shortlist=None), dict(shortlist=None)),
    ("maxsim recall target", _cfg(**MV), dict(recall_target=0.9), None,
     dict(shortlist="pooled", m=100), dict(shortlist="pooled", m=100)),
    ("maxsim codes", _cfg(**MV, **SQ), {}, None,
     dict(shortlist="codes", m=20, probe_codes=False),
     dict(shortlist="codes", m=20)),
    ("maxsim codes on probed cells", _cfg(codes_layout="cells", **MV,
                                          **IVF, **SQ), dict(rescore=30),
     None, dict(tier="ivf", shortlist="codes", m=30, probe_codes=True),
     dict(tier="exact", shortlist="codes", m=30, probe_codes=False)),
    ("maxsim codes skipped under a filter", _cfg(**MV, **SQ),
     dict(filtered=True, rescore=10), None,
     dict(shortlist="pooled"), dict(shortlist="pooled")),
    # Q=1 recall targets stay on the pooled curve; batches keep codes
    ("maxsim codes under recall target", _cfg(**MV, **SQ),
     dict(recall_target=0.9), None,
     dict(shortlist="pooled", m=100), dict(shortlist="codes", m=100)),
]


def _stats(s):
    if s is None:
        return _no_stats
    return lambda: None if s == "selective" else s


# every row at Q=1 (``n_queries=None``) and Q=3, except batch-only knobs
PLANS = [(f"{case} q{1 if n is None else 3}", cfg, knobs,
          stats if n is None else None, n, want)
         for case, cfg, knobs, stats, single, batch in ROWS
         for n, want in ((None, single), (3, batch)) if want is not None]


@pytest.mark.parametrize("case,cfg,knobs,stats,n_queries,want", PLANS,
                         ids=[p[0] for p in PLANS])
def test_plan_rows(case, cfg, knobs, stats, n_queries, want):
    plan = plan_search(cfg, SearchKnobs(**knobs), n_queries, _stats(stats))
    assert plan.batch == (n_queries is not None)
    assert {f: getattr(plan, f) for f in want} == want


def test_batch_of_one_keeps_batch_rows():
    plan = plan_search(_cfg(**MV, **IVF), SearchKnobs(), 1, _no_stats)
    assert plan.batch and plan.tier == "exact"
    plan = plan_search(_cfg(**HNSW), SearchKnobs(filtered=True), 1,
                       _no_stats)
    assert plan.tier == "ivf"


GUARDS = [
    ("hnsw_ef without hnsw_config", _cfg(), dict(hnsw_ef=16), "hnsw_ef"),
    ("hnsw_ef without hnsw_config, multivector", _cfg(**MV),
     dict(hnsw_ef=16), "hnsw_ef"),
    ("unknown quantization_params key", _cfg(**SQ),
     dict(quantization_params={"bogus": 1}), "unknown quantization_params"),
    ("multivector params on an unquantized space", _cfg(**MV),
     dict(quantization_params={"oversampling": 2.0}),
     "need a quantized space"),
    ("multivector rescore=False", _cfg(**MV, **SQ),
     dict(quantization_params={"rescore": False}), "always rescores"),
    ("rescore=False without a quantizer", _cfg(),
     dict(quantization_params={"rescore": False}), "active quantizer"),
    ("rescore=False under a filter", _cfg(**SQ),
     dict(quantization_params={"rescore": False}, filtered=True),
     "active quantizer"),
    ("rescore=False with exact", _cfg(**SQ),
     dict(quantization_params={"rescore": False}, exact=True),
     "active quantizer"),
    ("rescore=False on bq", _cfg(quantization="bq"),
     dict(quantization_params={"rescore": False}), "sq/pq/opq"),
    ("rescore=False on a distance metric", _cfg(metric="euclid", **SQ),
     dict(quantization_params={"rescore": False}), "must rescore"),
    ("rescore=False without k", _cfg(**SQ),
     dict(quantization_params={"rescore": False}, k=None), "finite k"),
    ("sparse with a dense knob", _cfg(sparse=True), dict(nprobe=2),
     "dense-tier knobs"),
    ("sparse with a formula", _cfg(sparse=True), dict(formula="score"),
     "dense-tier knobs"),
    ("recall target out of range", _cfg(), dict(recall_target=1.5),
     "recall_target"),
]


@pytest.mark.parametrize("n_queries", [None, 3], ids=["q1", "q3"])
@pytest.mark.parametrize("case,cfg,knobs,match", GUARDS,
                         ids=[g[0] for g in GUARDS])
def test_plan_guards(case, cfg, knobs, match, n_queries):
    with pytest.raises(ValueError, match=match):
        plan_search(cfg, SearchKnobs(**knobs), n_queries, _no_stats)


@pytest.mark.parametrize("cfg,match", [
    (_cfg(sparse=True), "per-request filters"),
    (_cfg(**MV), "per-query filters support dense"),
])
def test_batch_per_query_filter_guards(cfg, match):
    with pytest.raises(ValueError, match=match):
        plan_search(cfg, SearchKnobs(per_query=True), 3, _no_stats)
