"""Collection-config rules as one table, checked at every entry point
that takes them, with no Spark job (empty collections only: a config
rule never reads data).

Each rule has one accepted and one rejected spec. A dense-space spec
runs as a named space (``vectors={"v": spec}``) and as the single space
(``create_collection(**spec)``); a quantizer spec also runs through
``update_collection``'s quantizer switch on both shapes. ``drift_auto``
is collection-level (single-space only) and runs at create and update;
a sparse spec runs in a sparse-only collection, next to a single dense
space, next to a named space, and as an update diff. Accepted specs
write the pinned meta; a rejected spec raises the rule's one message at
every entry point, and a rejected update leaves the meta as it was."""

import json
from typing import NamedTuple

import pytest

from image_indexing_and_retrival_with_qdrant_spark.catalog import (
    Collection,
    collection_exists,
    create_collection,
)

_PCA_KNOBS = ("pca_dim needs transform='pca' (the PCA knobs "
              "pca_dim/k_centroids need transform='pca')")


class Rule(NamedTuple):
    ok: dict      # accepted spec
    named: dict   # ... its meta as a named space
    single: dict  # ... its meta as the single space
    bad: dict     # rejected spec
    msg: str      # the one message it raises everywhere
    switch: bool  # also runs through the quantizer switch


DENSE_RULES = {
    "quantization_kind": Rule(
        {"dim": 8, "quantization": "bq"},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "normalize": True, "quantization": "bq"},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "quantization": "bq"},
        {"dim": 8, "quantization": "pq9"},
        "quantization must be 'sq', 'bq', 'pq' or 'opq'", True),
    "multivector_takes_sq": Rule(
        {"dim": 4, "multivector": True, "quantization": "sq"},
        {"dim": 4, "metric": "cosine", "multivector": True,
         "normalize": True, "quantization": "sq"},
        {"dim": 4, "metric": "cosine", "multivector": True,
         "comparator": "max_sim", "normalize": True, "quantization": "sq"},
        {"dim": 4, "multivector": True, "quantization": "bq"},
        "multivector collections support quantization='sq' (scalar int8 "
        "per subvector; 'bq'/'pq'/'opq' need dense spaces)", True),
    "pq_default_shape": Rule(
        {"dim": 16, "quantization": "pq"},
        {"dim": 16, "metric": "cosine", "multivector": False,
         "normalize": True, "quantization": "pq", "pq_blocks": 2,
         "pq_codes": 16},
        {"dim": 16, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "quantization": "pq",
         "pq_blocks": 2, "pq_codes": 16},
        {"dim": 9, "quantization": "pq"},
        "pq_blocks must divide dim 9 (got 2)", True),
    "pq_codes_range": Rule(
        {"dim": 16, "quantization": "opq", "pq_blocks": 4, "pq_codes": 32},
        {"dim": 16, "metric": "cosine", "multivector": False,
         "normalize": True, "quantization": "opq", "pq_blocks": 4,
         "pq_codes": 32},
        {"dim": 16, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "quantization": "opq",
         "pq_blocks": 4, "pq_codes": 32},
        {"dim": 16, "quantization": "pq", "pq_codes": 1},
        "pq_codes must be in 2..256", False),
    "opq_width": Rule(
        {"dim": 256, "quantization": "opq"},
        {"dim": 256, "metric": "cosine", "multivector": False,
         "normalize": True, "quantization": "opq", "pq_blocks": 16,
         "pq_codes": 16},
        {"dim": 256, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "quantization": "opq",
         "pq_blocks": 16, "pq_codes": 16},
        {"dim": 512, "quantization": "opq"},
        "opq supports dim <= 256 (the dxd rotation freezes in the meta; "
        "use transform='pca' for wide spaces)", True),
    "pq_knobs_need_pq": Rule(
        {"dim": 16, "quantization": "pq", "pq_blocks": 8},
        {"dim": 16, "metric": "cosine", "multivector": False,
         "normalize": True, "quantization": "pq", "pq_blocks": 8,
         "pq_codes": 16},
        {"dim": 16, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "quantization": "pq",
         "pq_blocks": 8, "pq_codes": 16},
        {"dim": 8, "quantization": "sq", "pq_blocks": 2},
        "pq_blocks needs quantization='pq'/'opq'", False),
    "datatype_kind": Rule(
        {"dim": 4, "multivector": True, "datatype": "float32"},
        {"dim": 4, "metric": "cosine", "multivector": True,
         "normalize": True},
        {"dim": 4, "metric": "cosine", "multivector": True,
         "comparator": "max_sim", "normalize": True},
        {"dim": 4, "multivector": True, "datatype": "float8"},
        "datatype must be 'float32' or 'float16'", False),
    "float16_multivector_only": Rule(
        {"dim": 4, "multivector": True, "datatype": "float16"},
        {"dim": 4, "metric": "cosine", "multivector": True,
         "normalize": True, "datatype": "float16"},
        {"dim": 4, "metric": "cosine", "multivector": True,
         "comparator": "max_sim", "normalize": True, "datatype": "float16"},
        {"dim": 4, "datatype": "float16"},
        "float16 storage supports multivector collections (dense "
        "compression: use quantization='sq'/'bq')", False),
    "transform_kind": Rule(
        {"dim": 8, "transform": "pca", "pca_dim": 4},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "normalize": True, "transform": "pca", "pca_dim": 4},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "transform": "pca",
         "pca_dim": 4, "k_centroids": 16},
        {"dim": 8, "transform": "opq", "pca_dim": 4},
        "transform must be 'pca'", False),
    "transform_dense_only": Rule(
        {"dim": 8, "transform": "pca", "pca_dim": 2},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "normalize": True, "transform": "pca", "pca_dim": 2},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "transform": "pca",
         "pca_dim": 2, "k_centroids": 16},
        {"dim": 8, "multivector": True, "transform": "pca", "pca_dim": 4},
        "transform supports dense collections", False),
    "transform_excludes_quantization": Rule(
        {"dim": 8, "quantization": "sq"},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "normalize": True, "quantization": "sq"},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "quantization": "sq"},
        {"dim": 8, "transform": "pca", "pca_dim": 4, "quantization": "sq"},
        "transform and quantization are exclusive (the PCA sidecar IS "
        "the compressed layout)", True),
    "pca_dim_range": Rule(
        {"dim": 8, "transform": "pca", "pca_dim": 7},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "normalize": True, "transform": "pca", "pca_dim": 7},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "transform": "pca",
         "pca_dim": 7, "k_centroids": 16},
        {"dim": 8, "transform": "pca", "pca_dim": 8},
        "transform='pca' needs pca_dim in 1..7", False),
    "pca_dim_needs_transform": Rule(
        {"dim": 8},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "normalize": True},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True},
        {"dim": 8, "pca_dim": 4},
        _PCA_KNOBS, False),
}


def _create(root: str, name: str, form: str, spec: dict) -> Collection:
    if form == "named":
        return create_collection(root, name, vectors={"v": spec})
    return create_collection(root, name, **spec)


def _space(coll: Collection, form: str) -> dict:
    return coll.meta["vectors"]["v"] if form == "named" else coll.meta


def _switch(coll: Collection, form: str, q) -> None:
    if form == "named":
        coll.update_collection(None, vectors={"v": {"quantization": q}})
    else:
        coll.update_collection(None, quantization=q)


def _without_quantization(spec: dict) -> dict:
    return {k: v for k, v in spec.items() if k != "quantization"}


def _rejects_unchanged(coll: Collection, msg: str, update) -> None:
    with open(coll.meta_path) as f:
        before = json.load(f)
    with pytest.raises(ValueError) as err:
        update()
    assert str(err.value) == msg
    assert coll.meta == before
    assert Collection(coll.root, coll.name).meta == before


@pytest.mark.parametrize("form", ["named", "single"])
@pytest.mark.parametrize("rule", sorted(DENSE_RULES))
def test_dense_space_rule_accepts(tmp_path, rule, form):
    r = DENSE_RULES[rule]
    root = str(tmp_path)
    want = r.named if form == "named" else r.single
    coll = _create(root, "ok", form, r.ok)
    assert _space(coll, form) == want
    assert _space(Collection(root, "ok"), form) == want
    if r.switch:
        sw = _create(root, "sw", form, _without_quantization(r.ok))
        _switch(sw, form, r.ok["quantization"])
        assert _space(sw, form) == want


@pytest.mark.parametrize("form", ["named", "single"])
@pytest.mark.parametrize("rule", sorted(DENSE_RULES))
def test_dense_space_rule_rejects(tmp_path, rule, form):
    r = DENSE_RULES[rule]
    root = str(tmp_path)
    with pytest.raises(ValueError) as err:
        _create(root, "bad", form, r.bad)
    assert str(err.value) == r.msg
    assert not collection_exists(root, "bad")
    if r.switch:
        sw = _create(root, "sw", form, _without_quantization(r.bad))
        _rejects_unchanged(
            sw, r.msg, lambda: _switch(sw, form, r.bad["quantization"]))


# named-space-only rules: (accepted spec, its meta, rejected spec, message)
NAMED_RULES = {
    "unknown_key": (
        {"dim": 2, "normalize": False},
        {"dim": 2, "metric": "cosine", "multivector": False,
         "normalize": False},
        {"dim": 2, "dtype": "float16"},
        "unknown key(s) ['dtype'] in vector space 'v' config"),
    "needs_dim": (
        {"dim": 2, "metric": "dot"},
        {"dim": 2, "metric": "dot", "multivector": False,
         "normalize": False},
        {"metric": "dot"},
        "vector space 'v' needs a dim"),
    "k_centroids_under_transform": (
        {"dim": 8, "transform": "pca", "pca_dim": 4, "k_centroids": 3},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "normalize": True, "transform": "pca", "pca_dim": 4,
         "k_centroids": 3},
        {"dim": 8, "k_centroids": 3},
        _PCA_KNOBS),
}


@pytest.mark.parametrize("rule", sorted(NAMED_RULES))
def test_named_space_rule(tmp_path, rule):
    ok, want, bad, msg = NAMED_RULES[rule]
    assert _space(_create(str(tmp_path), "ok", "named", ok), "named") == want
    with pytest.raises(ValueError) as err:
        _create(str(tmp_path), "bad", "named", bad)
    assert str(err.value) == msg


# drift_auto: (accepted create kwargs, their meta, rejected kwargs, message)
DRIFT_RULES = {
    "policy_kind": (
        {"indexing_threshold": 5, "drift_auto": "split"},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "indexing_threshold": 5,
         "k_centroids": 16, "drift_auto": "split"},
        {"indexing_threshold": 5, "drift_auto": "always"},
        "drift_auto must be None, 'split' or 'rebuild'"),
    "needs_layout": (
        {"transform": "pca", "pca_dim": 4, "drift_auto": "rebuild"},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "drift_auto": "rebuild",
         "transform": "pca", "pca_dim": 4, "k_centroids": 16},
        {"drift_auto": "split"},
        "drift_auto needs indexing_threshold or a transform (no "
        "maintained layout otherwise)"),
    "dense_only": (
        {"indexing_threshold": 5, "drift_auto": "rebuild"},
        {"dim": 8, "metric": "cosine", "multivector": False,
         "comparator": None, "normalize": True, "indexing_threshold": 5,
         "k_centroids": 16, "drift_auto": "rebuild"},
        {"multivector": True, "indexing_threshold": 5,
         "drift_auto": "split"},
        "drift_auto supports dense single-space collections "
        "(split_hot_cells' scope)"),
}


def _without_drift(kw: dict) -> dict:
    return {k: v for k, v in kw.items() if k != "drift_auto"}


@pytest.mark.parametrize("rule", sorted(DRIFT_RULES))
def test_drift_auto_rule(tmp_path, rule):
    ok, want, bad, msg = DRIFT_RULES[rule]
    root = str(tmp_path)
    assert create_collection(root, "ok", dim=8, **ok).meta == want
    up = create_collection(root, "up", dim=8, **_without_drift(ok))
    up.update_collection(None, drift_auto=ok["drift_auto"])
    assert up.meta == want
    with pytest.raises(ValueError) as err:
        create_collection(root, "bad", dim=8, **bad)
    assert str(err.value) == msg
    up_bad = create_collection(root, "up_bad", dim=8, **_without_drift(bad))
    _rejects_unchanged(up_bad, msg, lambda: up_bad.update_collection(
        None, drift_auto=bad["drift_auto"]))


# sparse spaces: (accepted config, its meta, rejected config, message)
SPARSE_RULES = {
    "modifier": (
        {"modifier": "idf"}, {"modifier": "idf"},
        {"modifier": "bm25"}, "sparse modifier must be None or 'idf'"),
    "known_keys": (
        {"full_scan_threshold": 10},
        {"modifier": None, "full_scan_threshold": 10},
        {"foo": 1}, "unknown key(s) ['foo'] in sparse space 'text' config"),
}
SPARSE_NEIGHBOURS = {"sparse_only": {}, "single": {"dim": 4},
                     "named": {"vectors": {"d": {"dim": 4}}}}


@pytest.mark.parametrize("shape", sorted(SPARSE_NEIGHBOURS))
@pytest.mark.parametrize("rule", sorted(SPARSE_RULES))
def test_sparse_space_rule(tmp_path, rule, shape):
    ok, want, bad, msg = SPARSE_RULES[rule]
    root, dense = str(tmp_path), SPARSE_NEIGHBOURS[shape]
    coll = create_collection(root, "ok", sparse_vectors={"text": ok},
                             **dense)
    assert coll.meta["sparse_vectors"]["text"] == want
    up = create_collection(root, "up", sparse_vectors={"text": {}}, **dense)
    up.update_collection(None, sparse_vectors={"text": ok})
    assert up.meta["sparse_vectors"]["text"] == want
    with pytest.raises(ValueError) as err:
        create_collection(root, "bad", sparse_vectors={"text": bad}, **dense)
    assert str(err.value) == msg
    _rejects_unchanged(up, msg, lambda: up.update_collection(
        None, sparse_vectors={"text": bad}))


@pytest.mark.parametrize("shape", [
    {"dim": 2}, {"vectors": {"v": {"dim": 2}}},
    {"sparse_vectors": {"text": {}}}],
    ids=["single", "named", "sparse_only"])
def test_shard_key_recorded_for_every_shape(tmp_path, shape):
    coll = create_collection(str(tmp_path), "sk", shard_key="tenant",
                             **shape)
    assert coll.meta["shard_key"] == "tenant"
    assert coll.meta["payload_indexes"] == ["tenant"]
