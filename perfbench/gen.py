"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. The program under test only ever sees the generated files
and arrays, never the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FEATURES = 32

# The label's structure is fixed; only the sample depends on the seed, so
# every seed poses a problem of the same difficulty.
_STRUCTURE = np.random.default_rng(20240601)
_LINEAR_W = _STRUCTURE.standard_normal(N_FEATURES).astype(np.float64) * 0.6


def classification_arrays(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` rows of dense float32 features and a 0/1 label.

    The label is a learnable function of the features plus noise: a
    linear term, one pairwise interaction, one threshold step and a sine,
    pushed through standard-normal noise. Trees recover the nonlinear
    parts, so a fitted model beats the base rate on held-out rows.
    """
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, N_FEATURES), dtype=np.float32)
    xd = x.astype(np.float64)
    logit = (
        xd @ _LINEAR_W
        + 1.5 * xd[:, 0] * xd[:, 1]
        + 2.0 * (xd[:, 2] > 0.5)
        + 1.5 * np.sin(2.0 * xd[:, 3])
        - 0.5
    )
    y = (logit + rng.standard_normal(n) > 0).astype(np.float64)
    return x, y


def write_classification(path: str, x: np.ndarray, y: np.ndarray, files: int) -> None:
    """Write ``(id, features array<float>, label double)`` as ``files``
    parquet files of near-equal size under the directory ``path``."""
    os.makedirs(path, exist_ok=True)
    n = len(x)
    feats = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), N_FEATURES)
    table = pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "features": feats.cast(pa.list_(pa.float32())),
            "label": pa.array(y),
        }
    )
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def request_arrays(seed: int, count: int, rows: int) -> list[np.ndarray]:
    """``count`` float64 request batches of ``rows`` x ``N_FEATURES``."""
    rng = np.random.default_rng([seed, 1])
    return [rng.standard_normal((rows, N_FEATURES)) for _ in range(count)]


# ---------------------------------------------------------------------------
# Feature-preparation tables: the columns the M-PREP registry queries read,
# with the value domains those queries filter and split on (orders dated
# 1995-2001 around the 1997 cut, thirty days of events from 2024-01-01,
# five event types including 'purchase', whitespace-tokenised documents).

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value window"
).split()


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def prep_tables(seed: int, customers: int) -> dict[str, pa.Table]:
    """The six tables the M-PREP queries read, sized from ``customers``
    with TPC-H proportions (10 orders per customer, 4 lines per order)."""
    rng = np.random.default_rng([seed, 2])
    n_c, n_o = customers, customers * 10
    n_l, n_parts = n_o * 4, max(100, customers * 4 // 3)
    n_ev, n_docs, n_vec = customers * 20 // 3, max(50, customers // 3), max(50, customers // 3)

    customer = pa.table(
        {
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_c),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, n_o, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_o, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_o),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
            "l_partkey": rng.integers(0, n_parts, n_l).astype(np.int64),
            "l_suppkey": rng.integers(0, 100, n_l).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, n_l, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": _days(rng, n_l, "1995-01-02", "2001-11-04"),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": (t0 + offsets).astype("datetime64[us]"),
            "user_id": rng.integers(0, max(10, n_c // 10), n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(40.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))
        for _ in range(n_docs)
    ]
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = (rng.standard_normal((n_vec, 64)) * 0.12).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return {
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_prep_tables(path: str, seed: int, customers: int) -> dict[str, int]:
    """Write each table as ``<path>/<name>.parquet``; returns row counts."""
    os.makedirs(path, exist_ok=True)
    rows = {}
    for name, table in prep_tables(seed, customers).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
