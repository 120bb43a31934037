"""Seeded input generators for the benchmark.

Every input is a pure function of the seed: the ten sf0.1-shaped
fixture tables (the shapes and distributions FIXTURES.md documents)
and the query batches the query workload sends. The program under test
only ever sees the generated files and rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the sf0.1 documents draw from this 30-token vocabulary
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
FRESH_WORDS = ("latest", "current", "news")
# shares of the query batches: with a freshness word, out of vocabulary
FRESH_SHARE = 0.25
OOV_SHARE = 0.15
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_COLORS = "blue cold hot large new old red small".split()
_THINGS = "anvil bolt gear gizmo plate ring rod widget".split()
_TYPES = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# sf0.1 row counts
N_DOCS = 5000
N_EMB = 2000
N_CUSTOMER = 15000
N_SUPPLIER = 1000
N_PART = 20000
N_ORDERS = 150000
N_LINEITEM = 600000
N_EVENTS = 100000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per input, so adding an input never
    shifts the others for the same seed."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def documents(seed: int) -> pa.Table:
    """5,000 documents of 44-577 chars of vocabulary tokens; 5% are an
    earlier document plus the token ``dup`` (the fixture's near-dups)."""
    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        limit = int(rng.integers(44, 578))
        words = vocab[rng.integers(0, len(vocab), limit // 2)]
        out, n = [], -1
        for w in words:
            if n + 1 + len(w) > limit:
                break
            out.append(w)
            n += 1 + len(w)
        texts.append(" ".join(out))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": texts,
            "lang": _LANGS[rng.choice(5, N_DOCS, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int) -> pa.Table:
    """2,000 unit vectors (dim 64) around 10 labelled cluster centres."""
    rng = _rng(seed, "embeddings")
    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, N_EMB).astype(np.int32)
    v = centres[label] + rng.normal(scale=0.8, size=(N_EMB, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMB, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def relational_tables(seed: int) -> dict[str, pa.Table]:
    """The TPC-H-ish star schema and the events stream at sf0.1."""
    rng = _rng(seed, "relational")
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, N_CUSTOMER)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    names = [f"{c} {t_}" for c in _COLORS for t_ in _THINGS]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(N_PART), i64),
            "p_name": [names[j] for j in rng.integers(0, len(names), N_PART)],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, N_PART)],
            "p_type": _TYPES[rng.integers(0, 6, N_PART)],
            "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
            "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) / 10, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
            "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
            "o_orderdate": _days(rng, N_ORDERS, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, N_ORDERS)],
        }
    )
    n = N_LINEITEM
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n), i64),
            "l_partkey": pa.array(rng.integers(0, N_PART, n), i64),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_tax": rng.integers(0, 9, n) / 100,
            "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), i64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), i64),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, N_EVENTS)],
            "value": np.round(rng.exponential(50, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    return t


def write_fixture(seed: int, sf_dir: str, relational: bool) -> None:
    """Write ``documents`` and ``embeddings`` (and with ``relational``
    the other eight tables) as single parquet files under ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    tables = {"documents": documents(seed), "embeddings": embeddings(seed)}
    if relational:
        tables.update(relational_tables(seed))
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(sf_dir, f"{name}.parquet"))


def queries(docs: pa.Table, seed: int, n: int, start_id: int = 0) -> list[tuple[int, str, str]]:
    """``n`` queries as (query_id, query_text, kind). Most are 6-word
    windows of corpus text; FRESH_SHARE of them also carry a freshness
    word, and OOV_SHARE are made-up words found in no document. The
    index hashes terms into 64 buckets, so out-of-vocabulary words
    still share buckets with corpus words and still score. ``kind`` is
    "corpus", "fresh" or "oov"."""
    rng = _rng(seed, f"queries{start_id}")
    texts = docs.column("text").to_pylist()
    out = []
    for j in range(n):
        u = rng.random()
        if u < OOV_SHARE:
            letters = rng.integers(0, 26, (6, 7))
            words = ["q" + "".join(chr(97 + c) for c in row) for row in letters]
            kind = "oov"
        else:
            toks = texts[int(rng.integers(0, len(texts)))].split(" ")
            s = int(rng.integers(0, max(1, len(toks) - 6)))
            words = toks[s:s + 6]
            kind = "corpus"
            if u < OOV_SHARE + FRESH_SHARE:
                words.insert(int(rng.integers(0, len(words) + 1)),
                             FRESH_WORDS[int(rng.integers(0, 3))])
                kind = "fresh"
        out.append((start_id + j, " ".join(words), kind))
    return out
