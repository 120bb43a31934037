"""Independent correctness oracles, run outside the timed loop.

None of these import the package under test: the chunker, murmur3
HashingTF, IDF, cosine top-k, greedy MMR, relevance gate and router are
re-derived here from their documented contracts, and the operator check
runs each op's DuckDB twin over the same parquet files.
"""

from __future__ import annotations

import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.dataset as ds

CHUNK_SIZE, CHUNK_OVERLAP = 1000, 200
DIM = 64
K, FETCH_K, LAMBDA = 5, 20, 0.5
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]")
_Q6 = Decimal("0.000001")


# ------------------------------------------------------------ write path

def chunk(text: str) -> list[tuple[int, str]]:
    """(chunk_no, page_content) of fixed 1000-char windows, stride 800,
    started while start <= len - 201 (always at least one chunk)."""
    stride = CHUNK_SIZE - CHUNK_OVERLAP
    last = max(len(text) - (CHUNK_OVERLAP + 1), 0)
    return [(s // stride, text[s:s + CHUNK_SIZE]) for s in range(0, last + 1, stride)]


def murmur3_32(data: bytes, seed: int = 42) -> int:
    """Signed MurmurHash3_x86_32, the hash behind Spark's HashingTF."""
    c1, c2, m = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF
    h = seed
    n = len(data) - len(data) % 4
    for i in range(0, n, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & m
        k = ((k << 15) | (k >> 17)) & m
        h ^= (k * c2) & m
        h = ((h << 13) | (h >> 19)) & m
        h = (h * 5 + 0xE6546B64) & m
    if len(data) % 4:
        k = int.from_bytes(data[n:], "little")
        k = (k * c1) & m
        k = ((k << 15) | (k >> 17)) & m
        h ^= (k * c2) & m
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & m
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & m
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


_bucket_memo: dict[str, int] = {}


def term_frequencies(text: str) -> np.ndarray:
    """Tokenizer (lower-case, split on each Java whitespace char, drop
    trailing empties) + HashingTF(64) term counts."""
    toks = _JAVA_WS.split(text.lower())
    while len(toks) > 1 and toks[-1] == "":
        toks.pop()
    tf = np.zeros(DIM)
    for t in toks:
        b = _bucket_memo.get(t)
        if b is None:
            b = _bucket_memo[t] = murmur3_32(t.encode("utf-8")) % DIM
        tf[b] += 1.0
    return tf


def expected_index(docs: list[tuple[int, str]]):
    """(rows, idf) the ingest of ``docs`` must write: rows are
    (chunk_id, doc_id, chunk_no, page_content, embedding)."""
    meta, tfs = [], []
    for doc_id, text in docs:
        for no, page in chunk(text):
            meta.append((doc_id * 1_000_000 + no, doc_id, no, page))
            tfs.append(term_frequencies(page))
    tf = np.array(tfs)
    m = len(meta)
    df = (tf > 0).sum(axis=0)
    idf = np.array([math.log((m + 1.0) / (d + 1.0)) for d in df])
    return [(*r, tf[i] * idf) for i, r in enumerate(meta)], idf


def read_index(index_dir: str):
    """The index as written: chunk columns sorted by chunk_id, plus idf."""
    t = ds.dataset(os.path.join(index_dir, "chunks"), format="parquet").to_table()
    t = t.sort_by("chunk_id")
    idf = ds.dataset(os.path.join(index_dir, "idf"), format="parquet").to_table()
    return {
        "chunk_id": t.column("chunk_id").to_numpy(),
        "doc_id": t.column("doc_id").to_numpy(),
        "chunk_no": t.column("chunk_no").to_numpy(),
        "page_content": t.column("page_content").to_pylist(),
        "embedding": np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        .reshape(t.num_rows, DIM),
        "idf": np.array(idf.column("idf")[0].as_py(), dtype=np.float64),
    }


def check_index(index_dir: str, docs: list[tuple[int, str]]) -> list[str]:
    """Problems found comparing the written index with the oracle's."""
    rows, idf = expected_index(docs)
    got = read_index(index_dir)
    problems = []
    if len(rows) != len(got["chunk_id"]):
        return [f"chunk count {len(got['chunk_id'])} != expected {len(rows)}"]
    rows.sort(key=lambda r: r[0])
    for i, (cid, did, no, page, emb) in enumerate(rows):
        if (got["chunk_id"][i], got["doc_id"][i], got["chunk_no"][i]) != (cid, did, no):
            problems.append(f"chunk ids differ at row {i}: {cid}")
        elif got["page_content"][i] != page:
            problems.append(f"page_content differs for chunk {cid}")
        elif not np.allclose(got["embedding"][i], emb, rtol=1e-12, atol=1e-12):
            problems.append(f"embedding differs for chunk {cid}")
        if len(problems) >= 3:
            break
    if not np.allclose(got["idf"], idf, rtol=1e-12, atol=1e-12):
        problems.append("idf weights differ")
    return problems


def index_bytes(index_dir: str) -> int:
    """Bytes of data files in the index (checksums and markers excluded)."""
    total = 0
    for root, _, files in os.walk(index_dir):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


# ------------------------------------------------------------- read path

def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product as a sequential left fold over dimensions,
    the summation order of both the engine's SQL expression and
    Python's ``sum``, so results are bit-identical."""
    acc = np.zeros(np.broadcast_shapes(a.shape, b.shape)[:-1])
    for i in range(a.shape[-1]):
        acc = acc + a[..., i] * b[..., i]
    return acc


def _round6(x: float) -> float:
    """Round half-up at 6 decimals on the shortest decimal form."""
    return float(Decimal(repr(float(x))).quantize(_Q6, rounding=ROUND_HALF_UP))


def _cos(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    na = np.sqrt(_fold_dot(a, a))
    nb = np.sqrt(_fold_dot(b, b))
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where((na > 0) & (nb > 0), _fold_dot(a, b) / (na * nb), 0.0)


def greedy_mmr(ids, embs, sims, k=K, lam=LAMBDA) -> list[int]:
    """Greedy maximal marginal relevance: argmax of
    lam*sim - (1-lam)*max cosine to the picked set, ties to the lowest id."""
    order = sorted(range(len(ids)), key=lambda i: (-sims[i], ids[i]))
    remaining = list(order)
    red = np.zeros(len(ids))
    picked: list[int] = []
    while remaining and len(picked) < k:
        best = None
        for i in remaining:
            score = lam * sims[i] - (1 - lam) * red[i]
            if best is None or score > best[0] or (score == best[0] and ids[i] < ids[best[1]]):
                best = (score, i)
        j = best[1]
        picked.append(j)
        remaining.remove(j)
        red = np.maximum(red, _cos(embs, embs[j][None, :]))
    return picked


class QueryOracle:
    """Brute-force answer to ``RagPipeline.query`` over a written index."""

    def __init__(self, index_dir: str):
        self.ix = read_index(index_dir)
        e = self.ix["embedding"]
        self.norm = np.sqrt(_fold_dot(e, e))

    def candidates(self, text: str):
        """Indices of the fetch_k best chunks by (sim desc, chunk_id)
        and their 6-dp sims; ``None`` sims when the query vector is zero
        (cosine is undefined there)."""
        qv = term_frequencies(text) * self.ix["idf"]
        qn = math.sqrt(float(_fold_dot(qv, qv)))
        if qn == 0 or (self.norm == 0).any():
            return None, None
        raw = _fold_dot(self.ix["embedding"], qv) / (self.norm * qn)
        # 6-dp rounding is monotone, so only chunks tied with the
        # fetch_k-th after rounding can enter; round those exactly
        n = min(FETCH_K, len(raw))
        cut = np.partition(raw, len(raw) - n)[len(raw) - n]
        pool = np.nonzero(raw >= cut - 1e-6)[0]
        sims = {int(i): _round6(raw[i]) for i in pool}
        ids = self.ix["chunk_id"]
        top = sorted(sims, key=lambda i: (-sims[i], ids[i]))[:n]
        return top, [sims[i] for i in top]

    def answer(self, text: str):
        """(plan_type, sources, best 6-dp sim) for one query text;
        ``None`` when the query vector is zero."""
        top, sims = self.candidates(text)
        if top is None:
            return None
        picked = greedy_mmr(
            [int(self.ix["chunk_id"][i]) for i in top],
            self.ix["embedding"][top], sims,
        )
        pages = [self.ix["page_content"][top[j]] for j in picked]
        kws = [w for w in text.lower().split(" ") if len(w) > 3]
        hits = max(sum(1 for w in kws if w in p.lower()) for p in pages)
        relevant = len(pages) >= 3 or hits >= len(kws) / 2
        low = text.lower()
        fresh = any(w in low for w in ("latest", "current", "news"))
        plan = (
            ("hybrid_search" if relevant else "web_search") if fresh
            else ("document_rag" if relevant else "direct_answer")
        )
        return plan, [p[:300] for p in pages[:3]], sims[0]


def mmr_inputs(oracle: QueryOracle, text: str):
    """The candidate list ``mmr_select`` receives for one query:
    [(chunk_id, embedding list, sim)]."""
    top, sims = oracle.candidates(text)
    if top is None:
        return []
    return [
        (int(oracle.ix["chunk_id"][i]), list(oracle.ix["embedding"][i]), s)
        for i, s in zip(top, sims)
    ]


# ------------------------------------------------------------- operators

def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def duckdb_views(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare_with_duckdb(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """Order-insensitive comparison of an op's rows with its DuckDB
    twin: column names, row count and canonical value multiset."""
    d = con.execute(sql).fetch_arrow_table()
    d_rows = [tuple(c[i].as_py() for c in d.columns) for i in range(d.num_rows)]
    if sorted(cols) != sorted(d.schema.names):
        return f"columns {sorted(cols)} != {sorted(d.schema.names)}"
    if len(rows) != len(d_rows):
        return f"row count {len(rows)} != {len(d_rows)}"
    if _rowset(cols, rows) != _rowset(d.schema.names, d_rows):
        return "values differ"
    return None
