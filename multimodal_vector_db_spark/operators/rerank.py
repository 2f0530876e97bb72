"""Result reranking (R1/R2): strategy dispatch + MMR diversity rerank.

Reference semantics (``reranker.py``):
- strategies: 'distance' (identity), 'diversity' (MMR λ=0.5),
  'combined' (MMR λ=0.7); unknown strategy → identity; always truncate
  to top_k afterwards (``reranker.py:17-50``).
- MMR (``reranker.py:52-117``): greedy — seed with the best-by-score
  candidate, then repeatedly pick
  ``argmax λ·rel(d) − (1−λ)·max_{s∈sel} sim(d, s)``;
  candidates lacking an embedding → input returned unchanged
  (``reranker.py:70-77``).

The kernel (:func:`mmr_order`) stacks the candidate vectors once as a
(d, n) matrix. Each greedy round is then whole-array numpy work: one
elementwise product with the newly selected vector, a column fold, an
update of every candidate's running max-similarity and a first-max
argmax. There is no Python loop over vectors or dimensions. A call costs
O(k·n·d) arithmetic and O(n·d) memory.

The column fold is ``np.cumsum(..., axis=0)[-1]``: a strict
left-to-right sum over the dimensions, the same fold as the Python
``sum`` in :func:`_cosine`. Every cosine therefore equals ``_cosine``
bit for bit, and so does every greedy selection and tie-break
(``tests/test_rerank.py`` pins this against a pure-Python greedy).
``np.sum`` (pairwise) and BLAS dot products reorder the fold and would
not. The candidate norms are folded once per call.

MMR runs driver-side over one query's collected top-N; the candidate
*generation* is the distributed part. The kernel is meant for N from a
handful to a few thousand candidates: the engine passes max(4·k, 20)
(40 at k=10), the registry query 20. Each round allocates one (d, n) product,
so far larger candidate sets should be cut down first. Deterministic
given its input: ties are broken by candidate order (first max), like
the reference's ``np.argmax``.
"""

from __future__ import annotations

import math

import numpy as np

Row = dict

#: MMR λ per diversity strategy (``reranker.py:17-50``); every other
#: strategy keeps the input order
MMR_LAMBDA = {"diversity": 0.5, "combined": 0.7}


def _cosine(a: list[float], b: list[float]) -> float:
    """reranker.py:135-138 — epsilon-guarded cosine. The scalar
    specification :func:`mmr_order` reproduces bit for bit."""
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb + 1e-8)


def _fold(m: np.ndarray) -> np.ndarray:
    """Column sums of ``m`` (d, n), each a strict left-to-right fold
    over the rows (see the module docstring)."""
    return np.cumsum(m, axis=0)[-1]


def _cosines(vt: np.ndarray, norms: np.ndarray, j: int) -> np.ndarray:
    """Cosine of every candidate (a column of ``vt``) with candidate
    ``j``: ``_cosine(v_i, v_j)`` for all i, bit for bit."""
    return _fold(vt * vt[:, j : j + 1]) / (norms * norms[j] + 1e-8)


def mmr_order(scores, vectors, top_k: int, lambda_param: float = 0.5) -> list[int]:
    """Candidate positions in MMR selection order, at most ``top_k``.

    ``scores`` is the (n,) relevance vector and ``vectors`` the (n, d)
    candidate matrix, both in candidate order."""
    rel = np.asarray(scores, dtype=np.float64)
    n = len(rel)
    want = min(top_k, n)
    if want <= 0:
        return []
    order = [int(np.argmax(rel))]  # seed: best by relevance, first max
    if want == 1:
        return order
    vt = np.ascontiguousarray(np.asarray(vectors, dtype=np.float64).T)
    norms = np.sqrt(_fold(vt * vt))
    # running max-similarity to the selected set: it only grows by the
    # one item selected each round, so each round needs one new cosine
    # per candidate (max is order-independent, so values are exact)
    best_sim = _cosines(vt, norms, order[0])
    alive = np.ones(n, dtype=bool)
    alive[order[0]] = False
    rel = lambda_param * rel
    while len(order) < want:
        rem = np.flatnonzero(alive)
        val = rel[rem] - (1.0 - lambda_param) * best_sim[rem]
        pick = int(rem[np.argmax(val)])  # first max wins (np.argmax)
        order.append(pick)
        alive[pick] = False
        if len(order) < want:
            np.maximum(best_sim, _cosines(vt, norms, pick), out=best_sim)
    return order


def mmr_rerank(
    candidates: list[Row],
    top_k: int,
    lambda_param: float = 0.5,
    score_key: str = "sim",
    embedding_key: str = "embedding",
) -> list[Row]:
    """Maximal Marginal Relevance over an ordered candidate list."""
    if not candidates:
        return []
    if any(embedding_key not in c or c[embedding_key] is None for c in candidates):
        return candidates[:top_k]  # reranker.py:70-77
    order = mmr_order(
        [c[score_key] for c in candidates],
        [c[embedding_key] for c in candidates],
        top_k,
        lambda_param,
    )
    return [candidates[i] for i in order]


def rerank(
    candidates: list[Row],
    strategy: str = "distance",
    top_k: int | None = None,
    score_key: str = "sim",
    embedding_key: str = "embedding",
) -> list[Row]:
    """R1 dispatch (``reranker.py:17-50``)."""
    top_k = top_k if top_k is not None else len(candidates)
    lam = MMR_LAMBDA.get(strategy)
    if lam is None:  # 'distance' or unknown → identity order
        return list(candidates)[:top_k]
    return mmr_rerank(candidates, top_k, lam, score_key, embedding_key)[:top_k]
