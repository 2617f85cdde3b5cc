"""One quantizer contract — Qdrant's ``quantization_config`` (scalar,
binary and product codes, an oversampled shortlist and an exact
rescore; qdrant.tech/documentation/guides/quantization/) as one
object per kind.

``quantizer(cfg)`` reads the config dict a quantized space keeps its
kind and frozen train params in (the collection meta, or a named
space's sub-dict) and answers every question the catalog asks of it:

- ``cols`` / ``col_type``: the sidecar's code columns (``codes``,
  ``bits`` or ``code0..``) and their Spark type;
- ``trained``: whether the frozen params exist (BQ is trainless);
- ``train(table, vec_col, prefix)``: the params to freeze — SQ from
  one agg over the table, PQ/OPQ from the id-ordered prefix (None
  below ``pq_codes`` rows: the space stays untrained);
- ``encode``: the sidecar projection under the frozen params;
- ``decode``: codes back to the float64 space the quantized HNSW
  graphs are built and walked in;
- ``query``: the query in code space (identity, or the OPQ rotation);
- ``maxsim`` (SQ on a multivector space): the approximate-MaxSim
  scorer over the codes, one Arrow pass for every query;
- ``operand`` / ``score``: the ranking expression. Its query operand
  is a literal (one query, inlined) or the name of the broadcast
  column a batch joins on (``query_vec`` / ``lut`` / ``qwords``) —
  the functions/vector.py operand rule — so one query and a batch
  rank codes with the same expression and differ only in the top-k
  leaf.
"""

from __future__ import annotations

import numpy as np

from .bq import bq_decode_np, bq_encode, bq_query_words, bq_score
from .maxsim import maxsim_score_codes_multi_udf
from .pq import pq_decode_np, pq_encode_frame, pq_lut, pq_score
from .sq import sq_decode_np, sq_encode, sq_encode_flat, sq_score
from .sq import sq_train, sq_train_flat

__all__ = ["quantizer", "trained"]


class _Quantizer:
    """The shared defaults: trained, the query itself as the operand
    (identity code space), a descending ``score`` over an
    ``array<double>`` operand column."""
    key, ascending = "score", False
    operand_col, operand_type = "query_vec", "array<double>"
    trained = True

    def __init__(self, cfg: dict):
        self.cfg = cfg

    @property
    def dim(self) -> int:
        return int(self.cfg["dim"])

    def query(self, qv: list) -> list[float]:
        return [float(x) for x in qv]

    def operand(self, qv: list) -> list:
        return self.query(qv)

    def decode(self, pdf):
        """An Arrow batch's code columns → (n × dim) float64 rows."""
        C = (np.stack([pdf[c].to_numpy() for c in self.cols], axis=1)
             if len(self.cols) > 1
             else [np.asarray(c) for c in pdf[self.cols[0]]])
        return self.decode_np(np.asarray(C, dtype=np.int64))


class _SQ(_Quantizer):
    cols, col_type = ["codes"], "array<int>"

    @property
    def trained(self) -> bool:
        return "sq_mins" in self.cfg

    def train(self, table, vec_col: str, prefix) -> dict:
        fit = sq_train_flat if self.cfg.get("multivector") else sq_train
        mins, steps = fit(table, self.dim, vec_col=vec_col)
        return {"sq_mins": mins, "sq_steps": steps}

    def encode(self, df, vec_col: str, id_col: str, carry: tuple = ()):
        kw = dict(vec_col=vec_col, id_col=id_col, carry_cols=carry)
        if self.cfg.get("multivector"):
            return sq_encode_flat(df, self.dim, self.cfg["sq_mins"],
                                  self.cfg["sq_steps"], **kw)
        return sq_encode(df, self.cfg["sq_mins"], self.cfg["sq_steps"], **kw)

    def decode_np(self, C):
        return sq_decode_np(C, self.cfg["sq_mins"], self.cfg["sq_steps"])

    def score(self, q):
        return sq_score(self.cfg["sq_mins"], self.cfg["sq_steps"], q)

    def maxsim(self, queries_flat: list):
        """A multivector space's approximate-MaxSim scorer: codes →
        ``array<double>`` of per-query scores."""
        return maxsim_score_codes_multi_udf(
            self.dim, self.cfg["sq_mins"], self.cfg["sq_steps"], queries_flat)


class _BQ(_Quantizer):
    """Trainless sign bits, ranked by Hamming distance ascending."""
    cols, col_type = ["bits"], "array<bigint>"
    key, ascending = "hamming", True
    operand_col, operand_type = "qwords", "array<bigint>"

    def encode(self, df, vec_col: str, id_col: str, carry: tuple = ()):
        return bq_encode(df, self.dim, vec_col=vec_col, id_col=id_col,
                         carry_cols=carry)

    def decode_np(self, C):
        return bq_decode_np(C, self.dim)

    def operand(self, qv: list) -> list[int]:
        return bq_query_words(qv)

    def score(self, q):
        return bq_score(q, (self.dim + 31) // 32)  # 32-bit words


class _PQ(_Quantizer):
    """Product codes (``opq``: behind the learned rotation), ranked
    by ADC over the query's lookup table."""
    col_type = "int"
    operand_col = "lut"

    @property
    def trained(self) -> bool:
        return "pq_codebooks" in self.cfg

    @property
    def cols(self) -> list[str]:
        return [f"code{b}" for b in range(len(self.cfg["pq_codebooks"]))]

    def train(self, table, vec_col: str, prefix) -> dict | None:
        # kmeans_np / opq_train_np are bit-deterministic on the
        # id-ordered prefix, so an oracle factory re-derives the codes
        from .ann import kmeans_np
        from .opq import opq_train_np

        blocks, k_codes = int(self.cfg["pq_blocks"]), int(
            self.cfg.get("pq_codes", 16))
        X = np.asarray(prefix(), dtype=np.float64)
        if len(X) < k_codes:
            return None  # kmeans needs ≥ k rows: searches stay exact
        if self.cfg["quantization"] == "opq":
            R, cbs = opq_train_np(X, n_blocks=blocks, k_codes=k_codes)
            return {"opq_rotation": R, "pq_codebooks": cbs}
        sub = self.dim // blocks
        return {"pq_codebooks": [
            kmeans_np(X[:, b * sub:(b + 1) * sub], k_codes, seed=42 + b)
            for b in range(blocks)]}

    def encode(self, df, vec_col: str, id_col: str, carry: tuple = ()):
        return pq_encode_frame(df, self.cfg["pq_codebooks"], vec_col=vec_col,
                               id_col=id_col, carry_cols=carry,
                               rotation=self.cfg.get("opq_rotation"))

    def decode_np(self, C):
        return pq_decode_np(C, self.cfg["pq_codebooks"])

    def query(self, qv: list) -> list[float]:
        """Zero-mean ``pca_project_py`` through the OPQ rotation — the
        plain left-to-right double loop, float-identical to the
        fold-shape row rotation the encode runs."""
        R = self.cfg.get("opq_rotation")
        if R is None:
            return super().query(qv)
        from .pca import pca_project_py

        d = len(R)
        return pca_project_py([0.0] * d, [[R[i][j] for i in range(d)]
                                          for j in range(d)], qv)

    def operand(self, qv: list) -> list[float]:
        return pq_lut(self.cfg["pq_codebooks"], self.query(qv))

    def score(self, q):
        cbs = self.cfg["pq_codebooks"]
        return pq_score(q, len(cbs), len(cbs[0]))


_KINDS = {"sq": _SQ, "bq": _BQ, "pq": _PQ, "opq": _PQ}


def quantizer(cfg: dict) -> _Quantizer | None:
    """The space's quantizer, or None when it is unquantized."""
    kind = cfg.get("quantization")
    return _KINDS[kind](cfg) if kind else None


def trained(cfg: dict) -> bool:
    """Whether the space is quantized AND its quantizer is trained —
    the one test every planner and layout decision reads."""
    q = quantizer(cfg)
    return q is not None and q.trained
