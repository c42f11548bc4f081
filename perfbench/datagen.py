"""Seeded star-schema tables for the query-suite workload.

The registry queries read ``<dir>/<table>.parquet``, one file and one row
group per table. This module writes such a directory from a seed with numpy
and pyarrow only (no Spark), with the columns, value ranges and corpus shape
the 16 benchmarked queries depend on:

- ``lineitem``/``orders``/``customer``/``part``: TPC-H-like keys, 1995-2001
  dates, flags and prices;
- ``events``: 30 days of timestamped user events over five event types;
- ``documents``: word-soup texts over a 30-word vocabulary, 10-100 words,
  with ~5% near-duplicates (a copy of another document plus `` dup``) and a
  few exact duplicates, so the dedup queries return real pairs;
- ``embeddings``: 64-dim Gaussian float32 vectors (near-orthogonal, so the
  ANN tie margins the oracles assume are wide).

Row counts scale with ``sf`` the way the fixed test corpora do (lineitem
6M x sf, events 1M x sf, documents 50k x sf with a floor of 500, embeddings
20k x sf with a floor of 500).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("lineitem", "orders", "customer", "part", "events", "documents",
          "embeddings")

_WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
_LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
                      "BUILDING"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"])
_EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
_PART_ADJ = np.array(["red", "small", "hot", "old", "large", "blue", "cold",
                      "new"])
_PART_NOUN = np.array(["plate", "widget", "ring", "rod", "bolt", "gizmo",
                       "gear", "anvil"])
_PART_TYPES = np.array(["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL",
                        "PROMO"])
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, span, n) * _DAY_US


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, n)
    words = _WORDS[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # ~5% near-duplicates of another document, ~0.2% exact copies
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        texts[i] = texts[int(rng.integers(0, n))]
    return texts


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table the benchmarked queries read, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_orders = max(150, int(1_500_000 * sf))
    n_cust = max(15, int(150_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    lines = rng.integers(1, 8, n_orders)
    l_orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(l_orderkey)
    l_linenumber = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines)
                    + 1).astype(np.int32)
    status = rng.integers(0, 2, n_li)
    out = {
        "lineitem": pa.table({
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, max(10, n_part // 20), n_li),
            "l_linenumber": l_linenumber,
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[status],
            "l_shipdate": _days(rng, n_li, 2500),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, n_orders, 1_000.0, 500_000.0),
            "o_orderdate": _days(rng, n_orders, 2400),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -1_000.0, 10_000.0),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(_PART_ADJ[rng.integers(0, 8, n_part)], " "),
                _PART_NOUN[rng.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype("U2")),
            "p_type": _PART_TYPES[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + np.arange(n_part) % 1000 * 0.1, 2),
        }),
        "events": pa.table({
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_events)),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, n_events)],
            # full precision: with 2-decimal values, exact rounding ties in
            # per-user means are likely, and engines round ties differently
            "value": rng.exponential(50.0, n_events) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }),
    }
    texts = _texts(rng, n_docs)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.integers(0, len(_LANGS), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype("U2")),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(0.0, 0.125, (n_vecs, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    return rows
