"""ctypes loader for the C HNSW kernel (``_hnsw_kernel.c``).

The kernel is a throughput device, never a semantics change: it ports
the Python build/search beam op-for-op with numpy's exact scalar
pairwise summation, so (levels, adj) and search shortlists are
bit-identical to the pure-Python path on any box where that port
holds. ``operators/hnsw.py`` enforces that claim at runtime — it
probes a build for exact equality before trusting the kernel and
silently stays on the Python path otherwise (or when no C compiler is
available, or ``SPARK_GRAFT_HNSW_NATIVE=0``).

Compilation happens once per box into a content-addressed cache
(``$TMPDIR/spark_graft_kernels/hnsw_<md5>.so``); local-mode executors
share the file, and concurrent compiles race benignly through an
atomic rename. ``-ffp-contract=off`` pins IEEE semantics (no FMA
contraction), which plus fixed evaluation order is what makes C
doubles reproduce numpy's bits.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_SRC = os.path.join(os.path.dirname(__file__), "_hnsw_kernel.c")
_LIB: object = None  # None = untried, False = unavailable, else CDLL
_SO_PATH: str | None = None  # set by load() on success

_I64P = np.ctypeslib.ndpointer(dtype=np.int64, flags="C_CONTIGUOUS")
_F64P = np.ctypeslib.ndpointer(dtype=np.float64, flags="C_CONTIGUOUS")


def load():
    """The compiled kernel, or None when it cannot be used."""
    global _LIB
    if _LIB is not None:
        return _LIB or None
    if os.environ.get("SPARK_GRAFT_HNSW_NATIVE", "1") == "0":
        _LIB = False
        return None
    try:
        with open(_SRC, "rb") as f:
            src = f.read()
        digest = hashlib.md5(src).hexdigest()[:16]
        cache = os.environ.get("SPARK_GRAFT_KERNEL_DIR") or os.path.join(
            tempfile.gettempdir(), "spark_graft_kernels")
        so = os.path.join(cache, f"hnsw_{digest}.so")
        if not os.path.exists(so):
            os.makedirs(cache, exist_ok=True)
            tmp = f"{so}.{os.getpid()}.tmp"
            subprocess.run(
                ["cc", "-O2", "-fPIC", "-shared", "-ffp-contract=off",
                 "-o", tmp, _SRC],
                check=True, capture_output=True)
            os.replace(tmp, so)
        lib = ctypes.CDLL(so)
        lib.hnsw_build_kernel.restype = ctypes.c_int
        lib.hnsw_build_kernel.argtypes = [
            _F64P, ctypes.c_int64, ctypes.c_int64, _I64P,
            ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
            _I64P, _I64P, _I64P, _I64P]
        lib.hnsw_search_kernel.restype = ctypes.c_int
        lib.hnsw_search_kernel.argtypes = [
            _F64P, ctypes.c_int64, ctypes.c_int64, _I64P,
            _I64P, _I64P, _I64P, _I64P, _F64P,
            ctypes.c_int64, _F64P, _I64P]
        global _SO_PATH
        _SO_PATH = so
        _LIB = lib
    except Exception:
        _LIB = False
    return _LIB or None


def _reference_digest() -> str:
    """Digest of the Python reference the probe compares the kernel
    against: ``hnsw.py``, which holds the build and search beams
    (``_build_py``, ``_search_py``) and the helpers they call. The
    whole file, read as bytes (~0.1 ms, where ``inspect.getsource``
    of the six functions costs ~15 ms in every Python worker): an
    edit anywhere in it re-runs the probe once."""
    with open(os.path.join(os.path.dirname(__file__), "hnsw.py"),
              "rb") as f:
        return hashlib.md5(f.read()).hexdigest()[:16]


def _marker_path() -> str | None:
    """Per-box parity-probe verdict cache: the probe (hnsw.py's
    ``_native_usable``) is a few hundred ms of Python builds — fine
    once per box, wasteful once per forked Python worker. Keyed on
    the kernel digest (via the .so path), the numpy version AND the
    Python reference's digest, since the probe certifies 'this .so
    reproduces THIS reference under THIS numpy's bits': a changed
    Python beam with an unchanged C source must re-probe."""
    if _SO_PATH is None:
        return None
    return f"{_SO_PATH}.ok-np{np.__version__}-ref{_reference_digest()}"


def probe_ok_cached() -> bool:
    p = _marker_path()
    return p is not None and os.path.exists(p)


def mark_probe_ok() -> None:
    p = _marker_path()
    if p is None:
        return
    try:
        tmp = f"{p}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            f.write("ok")
        os.replace(tmp, p)
    except OSError:
        pass


def _build_layout(lv: np.ndarray, m: int):
    """Capacity-padded flat layout for a build: per-(node, layer)
    block starts (lay_off) and the per-node count index (cnt_off)."""
    n = len(lv)
    lay = lv + 1
    cnt_off = np.zeros(n, np.int64)
    np.cumsum(lay[:-1], out=cnt_off[1:])
    total_layers = int(cnt_off[-1] + lay[-1]) if n else 0
    caps = np.full(total_layers, m + 1, np.int64)
    caps[cnt_off] = 2 * m + 1  # layer 0 of every node
    lay_off = np.zeros(total_layers, np.int64)
    np.cumsum(caps[:-1], out=lay_off[1:])
    total_slots = int(lay_off[-1] + caps[-1]) if total_layers else 0
    return lay, cnt_off, lay_off, total_slots


def native_build(Xn: np.ndarray, levels, m: int, ef_construct: int,
                 adj0=None):
    """Run the C build; returns ``adj`` (list-of-list-of-lists, the
    Python builder's exact shape) or None when the kernel is absent.
    ``adj0`` resumes from a prefix exactly like ``hnsw_build_np``."""
    lib = load()
    n = len(levels)
    if lib is None or n < 2:
        return None
    lv = np.asarray(levels, dtype=np.int64)
    lay, cnt_off, lay_off, total_slots = _build_layout(lv, m)
    adj_flat = np.zeros(total_slots, np.int64)
    adj_cnt = np.zeros(len(lay_off), np.int64)
    start = 0
    if adj0 is not None:
        start = len(adj0)
        for p, row in enumerate(adj0):
            base_l = int(cnt_off[p])
            for l, nbrs in enumerate(row):
                if len(nbrs) > (2 * m if l == 0 else m):
                    # a resume state the Python builder could never
                    # have produced — don't hand the kernel corrupt
                    # block bounds, let the Python path deal with it
                    return None
                if len(nbrs):
                    o = int(lay_off[base_l + l])
                    adj_flat[o:o + len(nbrs)] = nbrs
                adj_cnt[base_l + l] = len(nbrs)
    Xc = np.ascontiguousarray(Xn, dtype=np.float64)
    rc = lib.hnsw_build_kernel(
        Xc, n, Xc.shape[1], lv, m, ef_construct, start,
        adj_flat, adj_cnt, lay_off, cnt_off)
    if rc != 0:
        return None
    flat = adj_flat.tolist()
    cnts = adj_cnt.tolist()
    offs = lay_off.tolist()
    adj = []
    k = 0
    for p in range(n):
        row = []
        for _l in range(int(lay[p])):
            o = offs[k]
            row.append(flat[o:o + cnts[k]])
            k += 1
        adj.append(row)
    return adj


def pack_graph(levels, adj):
    """Tight packed buffers for repeated native searches over one
    built segment: (lv, adj_flat, adj_cnt, lay_off, cnt_off)."""
    lv = np.asarray(levels, dtype=np.int64)
    cnts = [len(nbrs) for row in adj for nbrs in row]
    adj_cnt = np.asarray(cnts, dtype=np.int64)
    lay_off = np.zeros(len(cnts), np.int64)
    np.cumsum(adj_cnt[:-1], out=lay_off[1:])
    flat: list[int] = []
    for row in adj:
        for nbrs in row:
            flat.extend(nbrs)
    adj_flat = np.asarray(flat, dtype=np.int64)
    n = len(lv)
    lay = lv + 1
    cnt_off = np.zeros(n, np.int64)
    np.cumsum(lay[:-1], out=cnt_off[1:])
    return lv, adj_flat, adj_cnt, lay_off, cnt_off


def native_search(packed, Xn: np.ndarray, q: np.ndarray, ef: int):
    """Beam search over a packed graph; ascending (dist, pos) list —
    the exact ``hnsw_search_np`` non-exhaustive result — or None."""
    lib = load()
    if lib is None:
        return None
    lv, adj_flat, adj_cnt, lay_off, cnt_off = packed
    n = len(lv)
    out_d = np.empty(ef + 16, np.float64)
    out_p = np.empty(ef + 16, np.int64)
    qc = np.ascontiguousarray(q, dtype=np.float64)
    rc = lib.hnsw_search_kernel(
        Xn, n, Xn.shape[1], lv, adj_flat, adj_cnt, lay_off, cnt_off,
        qc, ef, out_d, out_p)
    if rc < 0:
        return None
    return list(zip(out_d[:rc].tolist(), out_p[:rc].tolist()))
