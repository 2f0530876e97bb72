"""MMR rerank tests (``reranker.py`` semantics, golden hand-computed
cases — SURVEY.md §5 layer 2 style)."""

from __future__ import annotations

import random

import numpy as np

from multimodal_vector_db_spark.operators.rerank import (
    _cosine,
    _cosines,
    _fold,
    mmr_rerank,
    rerank,
)


def _cands():
    # two tight clusters on orthogonal axes + one outlier
    return [
        {"id": 0, "sim": 0.95, "embedding": [1.0, 0.0, 0.0]},
        {"id": 1, "sim": 0.94, "embedding": [0.999, 0.01, 0.0]},
        {"id": 2, "sim": 0.60, "embedding": [0.0, 1.0, 0.0]},
        {"id": 3, "sim": 0.50, "embedding": [0.0, 0.0, 1.0]},
    ]


def test_identity_strategy_preserves_order():
    out = rerank(_cands(), strategy="distance", top_k=3)
    assert [r["id"] for r in out] == [0, 1, 2]


def test_unknown_strategy_is_identity():
    """reranker.py:47-50: unknown strategy falls back to distance."""
    out = rerank(_cands(), strategy="bogus", top_k=2)
    assert [r["id"] for r in out] == [0, 1]


def test_mmr_promotes_diversity():
    """λ=0.5: after picking id 0, the near-duplicate id 1 scores
    0.5*0.94 - 0.5*~1.0 < id 2's 0.5*0.60 - 0.5*0.0."""
    out = mmr_rerank(_cands(), top_k=3, lambda_param=0.5)
    assert [r["id"] for r in out] == [0, 2, 3]


def test_mmr_high_lambda_tracks_relevance():
    """λ→1 degenerates to pure relevance order."""
    out = mmr_rerank(_cands(), top_k=3, lambda_param=0.999)
    assert [r["id"] for r in out] == [0, 1, 2]


def test_missing_embedding_returns_input_truncated():
    """reranker.py:70-77: no embedding → unchanged (truncated) input."""
    cands = [{"id": 0, "sim": 0.9}, {"id": 1, "sim": 0.8}]
    out = mmr_rerank(cands, top_k=1)
    assert [r["id"] for r in out] == [0]


def test_empty_input():
    assert mmr_rerank([], top_k=5) == []
    assert rerank([], strategy="diversity", top_k=5) == []


def _greedy_reference(cands, top_k, lam):
    """The reference greedy (reranker.py:52-117) in pure Python on
    ``_cosine``: first-max seed by score, then first-max MMR value."""
    remaining = list(range(len(cands)))
    seed = max(remaining, key=lambda i: (cands[i]["sim"], -i))
    selected = [seed]
    remaining.remove(seed)
    while remaining and len(selected) < top_k:
        best_i, best_val = None, -float("inf")
        for i in remaining:
            sim = max(
                _cosine(cands[i]["embedding"], cands[s]["embedding"])
                for s in selected
            )
            val = lam * cands[i]["sim"] - (1.0 - lam) * sim
            if val > best_val:
                best_i, best_val = i, val
        selected.append(best_i)
        remaining.remove(best_i)
    return [cands[i]["id"] for i in selected]


def test_mmr_kernel_matches_python_greedy_bit_for_bit():
    """Seeded random candidate sets with exact score ties and duplicate
    vectors: the numpy kernel selects the same ids in the same order as
    the pure-Python greedy, and every cosine it computes equals
    ``_cosine`` exactly (a reordered fold would flip near-ties)."""
    rng = random.Random(4242)
    for _ in range(400):
        n = rng.randint(1, 45)
        d = rng.choice([1, 3, 16, 64, 512])
        pool = [
            [float(np.float32(rng.gauss(0.0, 1.0))) for _ in range(d)]
            for _ in range(max(1, n // 3))
        ]
        cands = [
            {
                "id": i,
                "sim": rng.choice([0.25, 0.5, 0.75, rng.random()]),
                "embedding": list(rng.choice(pool))
                if rng.random() < 0.4
                else [float(np.float32(rng.gauss(0.0, 1.0))) for _ in range(d)],
            }
            for i in range(n)
        ]
        lam = rng.choice([0.5, 0.7])
        k = rng.randint(1, 12)
        got = [r["id"] for r in mmr_rerank(cands, k, lam)]
        assert got == _greedy_reference(cands, k, lam), (n, d, k, lam)

        vt = np.array([c["embedding"] for c in cands]).T.copy()
        norms = np.sqrt(_fold(vt * vt))
        j = rng.randrange(n)
        cos = _cosines(vt, norms, j)
        want = [_cosine(c["embedding"], cands[j]["embedding"]) for c in cands]
        assert cos.tolist() == want
