"""Seeded benchmark inputs, generated into the benchmark's work directory.

Everything here is a pure function of the seed: the same seed gives
byte-identical parquet files and query lists. Nothing reads the
repository's own test data.

Two input families:

- the *ref-shaped corpus*: L2-normalised 512-d vectors, fp16
  round-tripped (the reference's storage contract), with the
  reference's modality proportions (image 71.5%, video 15.8%, audio
  4.5%, text 8.2% of 44,444 rows) and audio rows in the ``clap`` space.
  Rows come in planted neighbourhoods of ten around a shared base, so
  a query has real neighbours and an IVF index has real structure;
- the *registry tables*: the ten tables the query registry reads
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``),
  with the column names, types and value domains the registry expects.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the reference corpus: (modality, rows) — 44,444 rows in total
REF_MODALITY_ROWS = (
    ("image", 31_783),
    ("video", 7_010),
    ("audio", 2_000),
    ("text", 3_651),
)
SPACE_OF = {"image": "clip", "video": "clip", "text": "clip", "audio": "clap"}
#: rows that share one planted base vector
NEIGHBOURHOOD = 10
#: per-element noise around the base; cos(row, base) is about 0.8, so
#: neighbourhoods exist but bleed into each other and IVF recall is
#: below 1 at partial probing
NOISE = 0.75


@dataclass(frozen=True)
class Corpus:
    ids: np.ndarray  # int64, 0..n-1
    modality: np.ndarray  # object (str)
    space: np.ndarray  # object (str)
    emb: np.ndarray  # float32 (n, dim), unit rows, fp16-representable
    bases: np.ndarray  # float64 (n_bases, dim), un-normalised

    @property
    def dim(self) -> int:
        return self.emb.shape[1]


def _unit_fp16(x: np.ndarray) -> np.ndarray:
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float16).astype(np.float32)


def make_corpus(seed: int, rows: int, dim: int) -> Corpus:
    """``rows`` vectors split across modalities in the reference's
    proportions (largest remainder, so the split sums to ``rows``)."""
    rng = np.random.default_rng([seed, 1])
    n_bases = -(-rows // NEIGHBOURHOOD)
    bases = rng.uniform(-1.0, 1.0, size=(n_bases, dim))
    base_of = np.arange(rows) // NEIGHBOURHOOD
    emb = _unit_fp16(
        bases[base_of] + NOISE * rng.uniform(-1.0, 1.0, size=(rows, dim))
    )
    shares = np.array([n for _, n in REF_MODALITY_ROWS], dtype=np.float64)
    exact = shares / shares.sum() * rows
    counts = np.floor(exact).astype(int)
    counts[np.argsort(counts - exact)[: rows - counts.sum()]] += 1
    modality = np.repeat(
        np.array([m for m, _ in REF_MODALITY_ROWS], dtype=object), counts
    )
    # interleave modalities across neighbourhoods so every modality
    # filter still finds planted neighbours
    modality = modality[rng.permutation(rows)]
    space = np.array([SPACE_OF[m] for m in modality], dtype=object)
    return Corpus(np.arange(rows, dtype=np.int64), modality, space, emb, bases)


def make_queries(corpus: Corpus, seed: int, n: int) -> np.ndarray:
    """``n`` held-out query vectors: fresh perturbations of random
    bases, stored like the corpus (unit, fp16-representable)."""
    rng = np.random.default_rng([seed, 2])
    pick = rng.integers(0, len(corpus.bases), size=n)
    return _unit_fp16(
        corpus.bases[pick]
        + NOISE * rng.uniform(-1.0, 1.0, size=(n, corpus.dim))
    )


_WORDS = (
    "a the data query vector table row column key value join group sort "
    "scan filter hash merge window stream batch spark agg part line order "
    "customer fast slow big small index search image audio video text"
).split()


def make_texts(seed: int, n: int, tag: str) -> list[str]:
    """``n`` distinct short documents (the ingest stream's contents)."""
    rng = np.random.default_rng([seed, 3, len(tag)])
    words = np.array(_WORDS)
    return [
        f"{tag} {i} " + " ".join(words[rng.integers(0, len(words), 8)])
        for i in range(n)
    ]


def write_corpus(corpus: Corpus, path: str, files: int) -> None:
    """Write the corpus in the engine's item schema, split into
    ``files`` parquet files so a scan runs one task per file."""
    os.makedirs(path, exist_ok=True)
    n, dim = corpus.emb.shape
    for f, rows in enumerate(np.array_split(np.arange(n), files)):
        flat = corpus.emb[rows].ravel()
        offsets = np.arange(0, len(rows) * dim + 1, dim, dtype=np.int32)
        table = pa.table(
            {
                "id": pa.array(corpus.ids[rows], pa.int64()),
                "modality": pa.array(corpus.modality[rows].tolist(), pa.string()),
                "space": pa.array(corpus.space[rows].tolist(), pa.string()),
                "embedding": pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(flat, pa.float32())
                ),
                "dim": pa.array(np.full(len(rows), dim, np.int32)),
                "deleted": pa.array(np.zeros(len(rows), bool)),
                "content": pa.array([f"content {i}" for i in rows], pa.string()),
                "display_name": pa.array([f"item_{i}" for i in rows], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


# --------------------------------------------------------------------------
# registry tables
# --------------------------------------------------------------------------

#: rows per table, the registry's sf0.01 shape
REGISTRY_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
REGISTRY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_EPOCH_US = {
    "1995-01-01": 788_918_400_000_000,
    "2024-01-01": 1_704_067_200_000_000,
}
_DAY_US = 86_400_000_000


def _ts(start: str, us: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_US[start] + us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def registry_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 4])
    R = REGISTRY_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    n = R["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
            ).tolist(),
        }
    )
    n = R["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = R["part"]
    adj = ["hot", "cold", "old", "new", "red", "blue", "small", "large"]
    noun = ["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n
            ).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n) / 10.0, 1),
        }
    )
    n = R["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, R["customer"], n)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n) * _DAY_US),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
            ).tolist(),
        }
    )
    n = R["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, R["orders"], n)),
            "l_partkey": pa.array(rng.integers(0, R["part"], n)),
            "l_suppkey": pa.array(rng.integers(0, R["supplier"], n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n).tolist(),
            "l_shipdate": _ts("1995-01-01", rng.integers(1, 2499, n) * _DAY_US),
        }
    )
    n = R["events"]
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, n))),
            "user_id": pa.array(rng.integers(0, 150, n)),
            "event_type": rng.choice(
                ["click", "error", "purchase", "signup", "view"], n
            ).tolist(),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    t["documents"] = _documents(rng, R["documents"])
    t["embeddings"] = _embeddings(rng, R["embeddings"], dim=64, labels=10)
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random word documents; one in ten is a near-copy of an earlier
    one (a couple of words replaced), so the dedup queries find pairs."""
    words = np.array(_WORDS)
    docs: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            toks = docs[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), 2):
                toks[j] = str(words[rng.integers(0, len(words))])
        else:
            toks = words[rng.integers(0, len(words), rng.integers(8, 80))].tolist()
        docs.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": docs,
            "lang": rng.choice(["de", "en", "es", "fr", "zh"], n).tolist(),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(d) for d in docs], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int, labels: int) -> pa.Table:
    """Unit 64-d vectors clustered by label."""
    centres = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centres[label] + rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_registry_tables(seed: int, sf_dir: str) -> None:
    """One parquet file per table, named ``<sf_dir>/<table>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in registry_tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
