"""C HNSW kernel ⇔ Python builder/searcher bit-parity
(operators/_hnsw_kernel.c via operators/hnsw_native.py).

The kernel is only ever allowed to change throughput: hnsw_build_np /
hnsw_search_np dispatch to it solely when the runtime probe
(`hnsw._native_usable`) verified exact equality, and these tests pin
that equality directly across every branch of numpy's pairwise
summation the kernel ports (<8 sequential, ≤128 unrolled, >128
recursive), plus duplicates, resume, ties and the search beam."""

import numpy as np
import pytest

from image_indexing_and_retrival_with_qdrant_spark.operators import (
    hnsw,
    hnsw_native,
)
from image_indexing_and_retrival_with_qdrant_spark.operators.hnsw import (
    _build_py,
    _normalize_rows,
    _search_py,
    hnsw_level,
)

pytestmark = pytest.mark.skipif(
    hnsw_native.load() is None,
    reason="no C compiler on this box — Python path covers semantics")


def _fixture(n, d, seed, clusters=8, dup_every=0):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((clusters, d))
    reps = -(-n // clusters)
    X = (np.repeat(centers, reps, axis=0)[:n]
         + 0.2 * rng.standard_normal((n, d)))
    ids = list(range(n))
    if dup_every:
        # duplicate ids (append-mode semantics): same id, same level,
        # inserted in given order
        ids = sorted(ids[: n - n // dup_every]
                     + ids[: n // dup_every])
        X = X[:len(ids)]
    return ids, X


def test_probe_green_on_this_box():
    """The runtime gate itself — if this fails the engine silently
    runs the Python path, which is correct but 30× slower; a red here
    says the kernel port no longer matches this box's numpy."""
    assert hnsw._native_usable() is True


@pytest.mark.parametrize("d", [3, 8, 64, 200])
@pytest.mark.parametrize("m,ef", [(8, 64), (4, 16)])
def test_build_parity(d, m, ef):
    ids, X = _fixture(400, d, seed=d * 31 + m)
    Xn = _normalize_rows(X)
    levels = [hnsw_level(i, m) for i in ids]
    py = _build_py(Xn, levels, m, ef, None)
    nat = hnsw_native.native_build(Xn, levels, m, ef, None)
    assert nat == py


def test_build_parity_unnormalized_and_duplicates():
    ids, X = _fixture(300, 16, seed=9, dup_every=10)
    X = np.asarray(X, dtype=np.float64)
    levels = [hnsw_level(i, 8) for i in ids]
    py = _build_py(X, levels, 8, 64, None)
    nat = hnsw_native.native_build(X, levels, 8, 64, None)
    assert nat == py


def test_resume_parity():
    """Three-stage append through the kernel equals the from-scratch
    build (the documented resume invariant), and equals the Python
    resume."""
    ids, X = _fixture(360, 24, seed=5)
    Xn = _normalize_rows(X)
    levels = [hnsw_level(i, 8) for i in ids]
    full = _build_py(Xn, levels, 8, 64, None)
    adj = None
    for hi in (120, 240, 360):
        adj = hnsw_native.native_build(Xn[:hi], levels[:hi], 8, 64,
                                       adj0=adj)
    assert adj == full


def test_search_parity_and_dispatch():
    ids, X = _fixture(500, 32, seed=13)
    Xn = np.ascontiguousarray(_normalize_rows(X))
    levels = [hnsw_level(i, 8) for i in ids]
    adj = _build_py(Xn, levels, 8, 64, None)
    packed = hnsw_native.pack_graph(levels, adj)
    rng = np.random.default_rng(99)
    for ef in (1, 7, 64, 200):
        q = _normalize_rows(rng.standard_normal((1, 32)))[0]
        want = _search_py(levels, adj, Xn, q, ef)
        got = hnsw_native.native_search(packed, Xn, q, ef)
        assert [(d_, int(p_)) for d_, p_ in got] == want
        # the public entry dispatches identically
        via = hnsw.hnsw_search_np(levels, adj, Xn, q, ef,
                                  normalize=False)
        assert [(d_, int(p_)) for d_, p_ in via] == want


def test_exhaustive_mode_stays_python_and_exact():
    """ef >= n routes to the Python exhaustive restart — results must
    cover the whole segment exactly as before."""
    ids, X = _fixture(80, 8, seed=3)
    Xn = _normalize_rows(X)
    levels = [hnsw_level(i, 8) for i in ids]
    _, adj = hnsw.hnsw_build_np(ids, X, m=8, ef_construct=64)
    res = hnsw.hnsw_search_np(levels, adj, Xn, Xn[0], ef=len(ids))
    assert sorted(p for _, p in res) == list(range(len(ids)))


def test_public_build_uses_kernel_and_matches():
    """hnsw_build_np routes through the kernel (probe green) and its
    output is the Python loop's output bit-for-bit."""
    ids, X = _fixture(400, 64, seed=21)
    levels, adj = hnsw.hnsw_build_np(ids, X, m=8, ef_construct=64)
    Xn = _normalize_rows(X)
    assert adj == _build_py(Xn, levels, 8, 64, None)


def test_env_gate_disables_kernel(monkeypatch):
    """SPARK_GRAFT_HNSW_NATIVE=0 pins the Python path (deployment
    escape hatch)."""
    monkeypatch.setenv("SPARK_GRAFT_HNSW_NATIVE", "0")
    monkeypatch.setattr(hnsw_native, "_LIB", None)
    try:
        assert hnsw_native.load() is None
    finally:
        monkeypatch.setattr(hnsw_native, "_LIB", None)


def test_probe_marker_keyed_on_python_reference(monkeypatch, tmp_path):
    """The cached "probe ok" verdict certifies the kernel against the
    Python reference it was compared with: a changed reference digest
    (an edit to the Python beam with the C source unchanged) lands on
    a different marker, so the cached verdict no longer applies and
    the parity probe runs again."""
    hnsw_native.load()
    monkeypatch.setattr(hnsw_native, "_SO_PATH", str(tmp_path / "k.so"))
    hnsw_native.mark_probe_ok()
    old = hnsw_native._marker_path()
    assert hnsw_native.probe_ok_cached()
    monkeypatch.setattr(hnsw_native, "_reference_digest",
                        lambda: "0123456789abcdef")
    assert hnsw_native._marker_path() != old
    assert not hnsw_native.probe_ok_cached()
    ran = []
    monkeypatch.setattr(hnsw, "_NATIVE_OK", None)
    monkeypatch.setattr(hnsw, "_build_py", lambda *a: ran.append(a) or [])
    # the probe re-runs (it calls the reference) and, with this
    # stand-in reference disagreeing with the kernel, refuses it
    assert hnsw._native_usable() is False
    assert ran and not hnsw_native.probe_ok_cached()
