"""Seeded input generation for the benchmark.

Everything the program reads is made here from ``--seed``: the star-schema
tables (same schemas and value domains as the repository's test tables),
the ``explore`` parameter draws, the ``vector_serve`` query batches and
the ``curate_10x`` corpus.  The same seed gives byte-identical inputs;
:func:`digest` hashes them so a test can check that.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

_US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream), so adding a stream
    never shifts the draws of another."""
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(list(values)).take(pa.array(rng.choice(len(values), n, p=p)))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: str, last: str, n) -> pa.Array:
    a = np.datetime64(first, "D").astype(np.int64)
    b = np.datetime64(last, "D").astype(np.int64)
    us = rng.integers(a, b + 1, n).astype(np.int64) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(vocab[words[at : at + ln]]))
        at += ln
    return out


def documents(seed: int, n: int, stream: str = "documents") -> pa.Table:
    """``documents`` rows: 30-word-vocabulary text of 10-100 tokens; 5% are
    a random earlier-or-later doc plus `` dup`` (near-dups) and 0.16% are
    verbatim copies (exact dups)."""
    rng = _rng(seed, stream)
    texts = _texts(rng, n)
    near = rng.choice(n, max(1, n // 20), replace=False)
    for i in near:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    exact = rng.choice(n, max(1, n // 625) * 2, replace=False).reshape(-1, 2)
    for a, b in exact:
        texts[b] = texts[a]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    rng = _rng(seed, "embeddings")
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    flat = pa.array(m.ravel(), pa.float32())
    vecs = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": vecs,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (the test tables' rule)."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(10, int(6_000_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def star_tables(seed: int, sf: float, names) -> dict[str, pa.Table]:
    """The star-schema tables in ``names`` at scale ``sf``."""
    sz = table_sizes(sf)
    out: dict[str, pa.Table] = {}
    for name in names:
        rng = _rng(seed, name)
        n = sz.get(name)
        if name == "region":
            out[name] = pa.table(
                {
                    "r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
                }
            )
        elif name == "nation":
            out[name] = pa.table(
                {
                    "n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
                }
            )
        elif name == "customer":
            out[name] = pa.table(
                {
                    "c_custkey": np.arange(n, dtype=np.int64),
                    "c_name": [f"Customer#{i:09d}" for i in range(n)],
                    "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                    "c_acctbal": _money(rng, -999.99, 9999.99, n),
                    "c_mktsegment": _pick(
                        rng,
                        ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"),
                        n,
                    ),
                }
            )
        elif name == "supplier":
            out[name] = pa.table(
                {
                    "s_suppkey": np.arange(n, dtype=np.int64),
                    "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                    "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                    "s_acctbal": _money(rng, -999.99, 9999.99, n),
                }
            )
        elif name == "part":
            adj = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
            noun = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "screw")
            keys = np.arange(n, dtype=np.int64)
            out[name] = pa.table(
                {
                    "p_partkey": keys,
                    "p_name": _pick(rng, [f"{a} {b}" for a in adj for b in noun], n),
                    "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
                    "p_type": _pick(
                        rng, ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"), n
                    ),
                    "p_size": rng.integers(1, 51, n).astype(np.int32),
                    "p_retailprice": np.round(900 + (keys % 1000) / 10, 2),
                }
            )
        elif name == "orders":
            out[name] = pa.table(
                {
                    "o_orderkey": np.arange(n, dtype=np.int64),
                    "o_custkey": rng.integers(0, sz["customer"], n).astype(np.int64),
                    "o_orderstatus": _pick(rng, ("O", "F", "P"), n),
                    "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
                    "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
                    "o_orderpriority": _pick(
                        rng,
                        ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
                        n,
                    ),
                }
            )
        elif name == "lineitem":
            out[name] = pa.table(
                {
                    "l_orderkey": rng.integers(0, sz["orders"], n).astype(np.int64),
                    "l_partkey": rng.integers(0, sz["part"], n).astype(np.int64),
                    "l_suppkey": rng.integers(0, sz["supplier"], n).astype(np.int64),
                    "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
                    "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                    "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
                    "l_discount": rng.integers(0, 11, n) / 100.0,
                    "l_tax": rng.integers(0, 9, n) / 100.0,
                    "l_returnflag": _pick(rng, ("N", "R", "A"), n),
                    "l_linestatus": _pick(rng, ("F", "O"), n),
                    "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
                }
            )
        elif name == "events":
            start = np.datetime64("2024-01-01", "us").astype(np.int64)
            ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, n))
            out[name] = pa.table(
                {
                    "event_id": np.arange(n, dtype=np.int64),
                    "ts": pa.array(ts, pa.timestamp("us")),
                    "user_id": rng.integers(0, max(10, int(15_000 * sf)), n).astype(np.int64),
                    "event_type": _pick(rng, ("signup", "purchase", "view", "click", "error"), n),
                    "value": np.round(rng.exponential(50.0, n), 2),
                    "props": _pick(rng, [f'{{"k": {k}}}' for k in range(100)], n),
                }
            )
        elif name == "documents":
            out[name] = documents(seed, n)
        elif name == "embeddings":
            out[name] = embeddings(seed, n)
        else:
            raise KeyError(name)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def digest(tables: dict[str, pa.Table]) -> str:
    """Order-sensitive content hash of generated tables (IPC bytes)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


# -- explore parameter draws -------------------------------------------------

#: the numeric columns of each table the parameterized requests draw
#: from, with the value domain each range draw stays inside
NUMERIC_COLUMNS = {
    "lineitem": (("l_extendedprice", 900.0, 105_000.0), ("l_quantity", 1.0, 50.0)),
    "orders": (("o_totalprice", 1000.0, 500_000.0),),
    "events": (("value", 0.0, 300.0),),
    "customer": (("c_acctbal", -999.99, 9999.99),),
    "part": (("p_size", 1.0, 50.0), ("p_retailprice", 900.0, 999.9)),
}

#: request kinds in the order one explore round issues them, each with the
#: table it reads (``hist`` bins over a drawn range; the others over the
#: data range).  The tables are fixed so that every round and every seed
#: reads the same number of rows.
EXPLORE_PLAN = (
    ("hist", "lineitem"),
    ("pandas_hist", "orders"),
    ("ecdf", "events"),
    ("kde", "customer"),
    ("describe", "part"),
)
EXPLORE_KINDS = tuple(k for k, _ in EXPLORE_PLAN)


@dataclass(frozen=True)
class ExploreRequest:
    kind: str
    table: str
    column: str
    bins: int
    lo: float | None = None
    hi: float | None = None


def explore_requests(seed: int, rounds: int) -> list[ExploreRequest]:
    """``rounds`` × one request of every kind, on its table of
    :data:`EXPLORE_PLAN`.  The seed picks the column, the bins (or curve
    points) and the histogram range."""
    rng = _rng(seed, "explore")
    out = []
    for _ in range(rounds):
        for kind, table in EXPLORE_PLAN:
            cols = NUMERIC_COLUMNS[table]
            col, dlo, dhi = cols[int(rng.integers(0, len(cols)))]
            bins = int(rng.integers(5, 51))
            lo = hi = None
            if kind == "hist":
                a, b = np.sort(rng.uniform(dlo, dhi, 2))
                lo, hi = round(float(a), 2), round(float(b), 2)
            if kind == "kde":
                bins = int(rng.integers(50, 301))  # curve points
            out.append(ExploreRequest(kind, table, col, bins, lo, hi))
    return out


# -- vector_serve query batches ----------------------------------------------


def grid_vectors(m: np.ndarray) -> np.ndarray:
    """The 1e-6 grid the serving path runs on: every score is then an exact
    integer, so rankings are engine- and partitioning-portable."""
    return np.round(m.astype(np.float64) * 1e6)


def query_batches(seed: int, emb: pa.Table, n_batches: int, batch: int) -> list[np.ndarray]:
    """``n_batches`` batches of ``batch`` perturbed corpus vectors each,
    as grid-rounded float64 rows."""
    rng = _rng(seed, "queries")
    flat = emb.column("embedding").combine_chunks().flatten().to_numpy()
    m = flat.reshape(emb.num_rows, -1).astype(np.float64)
    out = []
    for _ in range(n_batches):
        rows = rng.choice(emb.num_rows, batch, replace=False)
        q = m[rows] + rng.normal(0.0, 0.05, (batch, m.shape[1]))
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        out.append(grid_vectors(q))
    return out


# -- curate_10x corpus -------------------------------------------------------


def copy_corpus(base: pa.Table, copies: int) -> pa.Table:
    """``copies`` id-shifted, token-disjoint copies of ``base`` (doc_id +
    i·10⁶, every token of copy i prefixed ``x{i}``): each copy keeps the
    base corpus's internal exact- and near-dup structure, and no shingle or
    fingerprint is shared across copies, so curated survivors scale
    exactly with ``copies``."""
    ids = base.column("doc_id").to_numpy()
    texts = base.column("text").to_pylist()
    out_ids, out_texts = [], []
    for i in range(copies):
        out_ids.append(ids + i * 1_000_000)
        out_texts.extend(f"x{i} " + t.replace(" ", f" x{i}") for t in texts)
    return pa.table({"doc_id": np.concatenate(out_ids), "text": pa.array(out_texts)})
