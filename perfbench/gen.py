"""Seeded input generators and numpy ground truth.

Everything here is a pure function of a ``numpy.random.Generator``, so
one seed always gives the same inputs. The engine never sees this
module: the workloads write what it returns to parquet files and hand
the engine those files.
"""

from __future__ import annotations

import numpy as np

TOP_K = 10
SCORE_DECIMALS = 6  # the engine publishes scores rounded to 6 decimals


# --- dense and multivector corpora -------------------------------------

def gaussian_corpus(rng: np.random.Generator, n: int, dim: int,
                    n_clusters: int = 16, spread: float = 0.35):
    """Mixture of Gaussians. Returns (vectors, centers). Values are
    rounded to float32 so the engine and numpy read the same numbers."""
    centers = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, n)
    x = centers[labels] + spread * rng.normal(size=(n, dim))
    return x.astype(np.float32).astype(np.float64), centers


def near_queries(rng: np.random.Generator, centers: np.ndarray, n: int,
                 spread: float = 0.35) -> np.ndarray:
    picks = centers[rng.integers(0, len(centers), n)]
    q = picks + spread * rng.normal(size=picks.shape)
    return q.astype(np.float32).astype(np.float64)


def planted_payload(rng: np.random.Generator, n: int) -> dict:
    """``tenant`` has 8 values (a ``match`` keeps ~12.5%); ``price`` is
    uniform on [0, 100) (``price < 60`` keeps ~60%)."""
    return {
        "tenant": rng.integers(0, 8, n).astype(np.int64),
        "price": np.round(rng.uniform(0.0, 100.0, n), 2),
    }


def multivector_corpus(rng: np.random.Generator, n_docs: int, n_vecs: int,
                       dim: int, n_topics: int = 8):
    """ColPali-shaped docs: ``n_vecs`` patch vectors per doc drawn
    around the doc's topic. Returns (docs[n_docs, n_vecs, dim], topics)."""
    topics = rng.normal(size=(n_topics, dim))
    t = rng.integers(0, n_topics, n_docs)
    docs = topics[t][:, None, :] + 0.6 * rng.normal(size=(n_docs, n_vecs, dim))
    return docs.astype(np.float32).astype(np.float64), topics


def multivector_queries(rng: np.random.Generator, topics: np.ndarray,
                        n: int, n_vecs: int) -> np.ndarray:
    t = rng.integers(0, len(topics), n)
    q = topics[t][:, None, :] + 0.6 * rng.normal(
        size=(n, n_vecs, topics.shape[1]))
    return q.astype(np.float32).astype(np.float64)


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def _top(scores: np.ndarray, ids: np.ndarray, k: int):
    """Top-k by (rounded score desc, id asc): the engine's order."""
    scores = np.round(scores, SCORE_DECIMALS)
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


def cosine_topk(corpus: np.ndarray, ids: np.ndarray, query: np.ndarray,
                mask: np.ndarray | None = None, k: int = TOP_K):
    scores = _unit(corpus) @ _unit(query)
    if mask is not None:
        scores, ids = scores[mask], ids[mask]
    return _top(scores, ids, k)


def maxsim_topk(docs_unit: np.ndarray, ids: np.ndarray, query: np.ndarray,
                k: int = TOP_K):
    """MaxSim: sum over query vectors of the best doc-vector cosine.
    ``docs_unit`` holds per-vector unit-normalized docs."""
    sims = np.einsum("qd,nvd->nqv", _unit(query), docs_unit)
    return _top(sims.max(axis=2).sum(axis=1), ids, k)


# --- text ----------------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    lens = rng.integers(4, 10, n)
    chars = rng.choice(_LETTERS, size=(n, 9))
    words = {"".join(row[:m]) for row, m in zip(chars, lens)}
    return np.array(sorted(words))


def random_doc(rng: np.random.Generator, vocab: np.ndarray,
               n_tokens: int) -> list[str]:
    # distinct tokens, so an edit always changes the token set
    return list(vocab[rng.choice(len(vocab), n_tokens, replace=False)])


def dup_corpus(rng: np.random.Generator, n_docs: int, n_tokens: int = 60,
               exact_share: float = 0.05, near_share: float = 0.10,
               edits: int = 2, vocab_size: int = 60_000):
    """Documents with planted duplicates. Returns (doc_ids, texts,
    exact_groups, near_pairs):

    - ``exact_groups``: {keeper_id: n_copies} for every text that
      occurs more than once (keeper = smallest id).
    - ``near_pairs``: set of (id_a, id_b), id_a < id_b, where id_b is
      id_a's text with ``edits`` tokens replaced.
    """
    vocab = vocabulary(rng, vocab_size)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_orig = n_docs - n_exact - n_near
    docs = [random_doc(rng, vocab, n_tokens) for _ in range(n_orig)]
    sources = rng.permutation(n_orig)
    exact_src = sources[:n_exact]
    near_src = sources[n_exact:n_exact + n_near]
    for s in exact_src:
        docs.append(list(docs[s]))
    near_pairs = set()
    for s in near_src:
        toks = list(docs[s])
        for pos in rng.choice(n_tokens, edits, replace=False):
            new = vocab[rng.integers(len(vocab))]
            while new in toks:
                new = vocab[rng.integers(len(vocab))]
            toks[pos] = new
        near_pairs.add((int(s), len(docs)))
        docs.append(toks)
    texts = [" ".join(d) for d in docs]
    # shuffle the ids so duplicates are not clustered by position
    perm = rng.permutation(len(texts))
    ids = np.empty(len(texts), dtype=np.int64)
    ids[perm] = np.arange(len(texts))
    texts_by_id = [None] * len(texts)
    for old, new in enumerate(ids):
        texts_by_id[new] = texts[old]
    near = {tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in near_pairs}
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts_by_id):
        groups.setdefault(t, []).append(i)
    exact = {min(v): len(v) for v in groups.values() if len(v) > 1}
    return np.arange(len(texts), dtype=np.int64), texts_by_id, exact, near


def event_stream(rng: np.random.Generator, n_events: int, n_users: int = 500,
                 dup_share: float = 0.05,
                 types=("view", "click", "cart", "buy")):
    """Events with a known duplicate map: ``dup_share`` of the events
    repeat an earlier (user_id, event_id) inside the same delivery.
    Returns (columns, truth) where truth is {event_type: distinct
    events}."""
    n_dup = int(n_events * dup_share)
    n_uniq = n_events - n_dup
    users = rng.integers(0, n_users, n_uniq).astype(np.int64)
    ev_ids = np.arange(n_uniq, dtype=np.int64)
    kinds = rng.choice(np.array(types), n_uniq, p=[0.55, 0.25, 0.12, 0.08])
    dup_of = rng.integers(0, n_uniq, n_dup)
    order = rng.permutation(n_events)
    cols = {
        "user_id": np.concatenate([users, users[dup_of]])[order],
        "event_id": np.concatenate([ev_ids, ev_ids[dup_of]])[order],
        "event_type": np.concatenate([kinds, kinds[dup_of]])[order],
    }
    values, counts = np.unique(kinds, return_counts=True)
    truth = {str(v): int(c) for v, c in zip(values, counts)}
    return cols, truth


def ingest_texts(rng: np.random.Generator, n: int, n_tokens: int = 24,
                 vocab_size: int = 20_000) -> list[str]:
    vocab = vocabulary(rng, vocab_size)
    return [" ".join(random_doc(rng, vocab, n_tokens)) for _ in range(n)]
