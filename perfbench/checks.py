"""Correctness gate: every result the benchmark times is checked here,
outside the timed region.

Top-k results are judged against a numpy float64 brute force over the
generated inputs, ordered by (score descending, id ascending). Scores
the engine computes in another summation order may differ from the
brute force in the last bits, so two candidates whose exact scores lie
within ``EPS`` of each other count as tied: either order is accepted
there, and nowhere else.
"""

from __future__ import annotations

import datetime
import math

import numpy as np

EPS = 1e-9


class Exact:
    """Exact rankings over a base corpus plus rows appended to it.

    The base part of each ranking is memoised per query; appended rows
    are scored on every call, restricted to the ``live`` ids the caller
    names (the rows present when the judged call ran)."""

    def __init__(self, ids, modality, space, emb):
        self.ids = np.asarray(ids)
        self.modality = np.asarray(modality)
        self.space = np.asarray(space)
        self.emb = np.asarray(emb, dtype=np.float64)
        self._added: list[tuple[int, str, str, np.ndarray]] = []
        self._added_arrays = None
        self._live: dict[frozenset, np.ndarray] = {}
        self._scores: dict = {}
        self._masks: dict = {}
        self._memo: dict = {}

    def add(self, rid: int, modality: str, space: str, vec) -> None:
        self._added.append((rid, modality, space, np.asarray(vec, dtype=np.float64)))
        self._added_arrays = None
        self._live.clear()

    def _mask(self, space: str, modality: str | None) -> np.ndarray:
        key = (space, modality)
        if key not in self._masks:
            mask = self.space == space
            if modality is not None:
                mask &= self.modality == modality
            self._masks[key] = np.nonzero(mask)[0]
        return self._masks[key]

    def _base(self, key, qvec, space, modality, depth):
        memo_key = (key, space, modality, depth)
        hit = self._memo.get(memo_key)
        if hit is None:
            if (key, space) not in self._scores:
                self._scores[(key, space)] = self.emb @ np.asarray(qvec, dtype=np.float64)
            rows = self._mask(space, modality)
            scores = self._scores[(key, space)][rows]
            order = np.lexsort((self.ids[rows], -scores))[: depth + 1]
            hit = self._memo[memo_key] = (self.ids[rows][order], scores[order])
        return hit

    def ranking(self, key, qvec, space: str, modality: str | None, depth: int,
                live=frozenset()):
        """(ids, scores) of the best ``depth`` + 1 rows of ``space`` (and
        of ``modality``, when given) for the query ``qvec`` named
        ``key``: base rows and the appended rows in ``live``."""
        ids, scores = self._base(key, qvec, space, modality, depth)
        if not live or not self._added:
            return ids, scores
        if self._added_arrays is None:
            rid, mod, sp, vec = zip(*self._added)
            self._added_arrays = (np.array(rid), np.array(mod), np.array(sp), np.stack(vec))
        a_ids, a_mod, a_sp, a_vec = self._added_arrays
        # consecutive calls share one live set: match its ids once
        in_live = self._live.get(live)
        if in_live is None:
            in_live = self._live[live] = np.isin(a_ids, np.fromiter(live, a_ids.dtype))
        sel = in_live & (a_sp == space)
        if modality is not None:
            sel &= a_mod == modality
        if not sel.any():
            return ids, scores
        ids = np.concatenate([ids, a_ids[sel]])
        scores = np.concatenate([scores, a_vec[sel] @ np.asarray(qvec, dtype=np.float64)])
        order = np.lexsort((ids, -scores))[: depth + 1]
        return ids[order], scores[order]


def topk_problem(got_ids, got_sims, exact_ids, exact_scores, k: int) -> str | None:
    """None when ``got_ids`` is the exact top-``k`` up to ties, else a
    one-line reason."""
    if len(set(got_ids)) != len(got_ids):
        return f"duplicate ids {got_ids}"
    if len(got_ids) != min(k, len(exact_ids)):
        return f"{len(got_ids)} results, want {min(k, len(exact_ids))}"
    for a, b, ia, ib in zip(got_sims, got_sims[1:], got_ids, got_ids[1:]):
        if a < b - EPS:
            return f"scores not descending at ids {ia},{ib}"
        if a == b and ia > ib:
            return f"equal scores not in ascending id order at {ia},{ib}"
    score_of = dict(zip(exact_ids.tolist(), exact_scores.tolist()))
    for pos, rid in enumerate(got_ids):
        want = int(exact_ids[pos])
        if rid == want:
            continue
        # a different id at this rank is fine only if it is tied with
        # the expected one
        s = score_of.get(rid)
        if s is None or abs(s - float(exact_scores[pos])) > EPS:
            return f"rank {pos}: id {rid}, exact has {want}"
    return None


def ranked_ids(rows) -> tuple[list[int], list[float]]:
    return [int(r["id"]) for r in rows], [float(r["sim"]) for r in rows]


# -- registry results against their DuckDB twins ---------------------------

def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _lines(cols: list[str], rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def oracle_problem(spark_cols, spark_rows, con, sql: str) -> str | None:
    """None when the Spark rows equal the DuckDB oracle's rows as an
    unordered multiset of canonical row strings, with the same column
    names; else a one-line reason."""
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    if sorted(cols) != sorted(spark_cols):
        return f"columns {sorted(spark_cols)} vs oracle {sorted(cols)}"
    if len(rows) != len(spark_rows):
        return f"{len(spark_rows)} rows vs oracle {len(rows)}"
    for a, b in zip(_lines(list(spark_cols), spark_rows), _lines(cols, rows)):
        if a != b:
            return f"row differs: {a[:120]!r} vs oracle {b[:120]!r}"
    return None
