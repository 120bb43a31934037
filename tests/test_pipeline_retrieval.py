"""RagPipeline's read path against a brute-force numpy oracle, plus the
guards on its shape: one scan of the index per ``query()`` call, an
index layout that scans on every core, and no append into an index.

The oracle scores every (query, chunk) pair with the engine's own
arithmetic spelled out in numpy: a sequential left fold over the
dimensions for dot products and norms, ``dot / (|e| * |q|)``, 6-dp
half-up rounding of the shortest decimal form (Spark's ``round`` on a
double), ties broken by ``chunk_id``, then greedy MMR over the fetch_k
best. Query vectors come from the engine's query embedding; what is
under test is the retrieval over them.
"""

from __future__ import annotations

import math
import random
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from vectordb_agentic_rag_spark.plans import RagPipeline
from vectordb_agentic_rag_spark.plans.pipeline import (
    DEFAULT_FETCH_K,
    DEFAULT_K,
    DEFAULT_LAMBDA,
)
from vectordb_agentic_rag_spark.tables import table

N_QUERIES = 100
FRESH_WORDS = ("latest", "current", "news")


@pytest.fixture(scope="module")
def pipe(spark, sf_dir, tmp_path_factory):
    p = RagPipeline(spark, str(tmp_path_factory.mktemp("rag_retrieval") / "index"))
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    p.stats = p.ingest(docs)
    yield p
    p.clear()


@pytest.fixture(scope="module")
def index(pipe):
    t = pq.read_table(f"{pipe.index_dir}/chunks").sort_by("chunk_id")
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    return {
        "chunk_id": np.array(t.column("chunk_id").to_pylist()),
        "doc_id": t.column("doc_id").to_pylist(),
        "page_content": t.column("page_content").to_pylist(),
        "embedding": emb,
        "norm": np.sqrt(_fold_dot(emb, emb)),
    }


@pytest.fixture(scope="module")
def queries(pipe, spark, index):
    """N_QUERIES seeded queries of corpus words, some with a freshness
    word, and their query vectors. Queries whose vector is zero are
    redrawn: cosine is undefined for them."""
    vocab = sorted({w for p in index["page_content"] for w in p.lower().split()})
    rng = random.Random(20261017)
    rows, vecs = [], {}
    while len(rows) < N_QUERIES:
        draw = [
            (len(rows) + i, " ".join(
                rng.sample(vocab, rng.randint(1, 6))
                + ([rng.choice(FRESH_WORDS)] if rng.random() < 0.3 else [])
            ))
            for i in range(N_QUERIES - len(rows))
        ]
        df = spark.createDataFrame(draw, "query_id long, query_text string")
        qv = {
            r.query_id: np.array(r.qv, dtype=np.float64)
            for r in pipe._embed_queries(df, "query_text").collect()
        }
        for qid, text in draw:
            if _fold_dot(qv[qid], qv[qid]) > 0:
                rows.append((len(rows), text))
                vecs[len(rows) - 1] = qv[qid]
    df = spark.createDataFrame(rows, "query_id long, query_text string")
    return df, dict(rows), vecs


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dot product over the last axis as a sequential left fold."""
    acc = np.zeros(np.broadcast_shapes(a.shape, b.shape)[:-1])
    for i in range(a.shape[-1]):
        acc = acc + a[..., i] * b[..., i]
    return acc


def _round6(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _top(index, qv, n):
    """Positions of the n best chunks by (6-dp sim desc, chunk_id), with sims."""
    raw = _fold_dot(index["embedding"], qv) / (index["norm"] * math.sqrt(_fold_dot(qv, qv)))
    sims = [_round6(x) for x in raw]
    order = sorted(range(len(sims)), key=lambda i: (-sims[i], index["chunk_id"][i]))[:n]
    return order, [sims[i] for i in order]


def _mmr(index, pos, sims, k=DEFAULT_K, lam=DEFAULT_LAMBDA):
    """Greedy MMR: argmax of lam*sim - (1-lam)*max cosine to the picked
    set, ties to the lowest chunk_id; returns [(position, score)]."""
    embs = index["embedding"][pos]
    norms = index["norm"][pos]
    ids = index["chunk_id"][pos]
    red = np.zeros(len(pos))
    left = list(range(len(pos)))
    picked = []
    while left and len(picked) < k:
        best = min(left, key=lambda i: (-(lam * sims[i] - (1 - lam) * red[i]), ids[i]))
        # Python's round on a float (numpy's rounds differently)
        score = lam * sims[best] - (1 - lam) * float(red[best])
        picked.append((pos[best], round(score, 6)))
        left.remove(best)
        cos = _fold_dot(embs, embs[best][None, :]) / (norms * norms[best])
        red = np.maximum(red, cos)
    return picked


def _by_query(rows):
    out = {}
    for r in rows:
        out.setdefault(r.query_id, []).append(r)
    return out


def test_retrieve_topk_matches_oracle(pipe, index, queries):
    qdf, _, vecs = queries
    got = _by_query(pipe.retrieve(qdf, mmr=False).collect())
    assert set(got) == set(vecs)
    for qid, qv in vecs.items():
        pos, sims = _top(index, qv, DEFAULT_K)
        want = [
            (int(index["chunk_id"][i]), index["doc_id"][i], index["page_content"][i], s)
            for i, s in zip(pos, sims)
        ]
        rows = sorted(got[qid], key=lambda r: (-r.sim, r.chunk_id))
        assert [(r.chunk_id, r.doc_id, r.page_content, r.sim) for r in rows] == want, qid


def test_retrieve_mmr_matches_oracle(pipe, index, queries):
    qdf, _, vecs = queries
    got = _by_query(pipe.retrieve(qdf).collect())
    assert set(got) == set(vecs)
    for qid, qv in vecs.items():
        pos, sims = _top(index, qv, DEFAULT_FETCH_K)
        sim_of = dict(zip(pos, sims))
        want = [
            (rank, int(index["chunk_id"][p]), index["doc_id"][p], sim_of[p], score)
            for rank, (p, score) in enumerate(_mmr(index, pos, sims))
        ]
        rows = sorted(got[qid], key=lambda r: r.mmr_rank)
        assert [
            (r.mmr_rank, r.chunk_id, r.doc_id, r.sim, r.mmr_score) for r in rows
        ] == want, qid


def test_query_matches_oracle(pipe, index, queries):
    qdf, texts, vecs = queries
    got = {r.query_id: r for r in pipe.query(qdf).collect()}
    assert set(got) == set(vecs)
    for qid, qv in vecs.items():
        text = texts[qid]
        pos, sims = _top(index, qv, DEFAULT_FETCH_K)
        pages = [index["page_content"][p] for p, _ in _mmr(index, pos, sims)]
        kws = [w for w in text.lower().split(" ") if len(w) > 3]
        hits = max(sum(w in p.lower() for w in kws) for p in pages)
        relevant = len(pages) >= 3 or hits >= len(kws) / 2
        fresh = any(w in text.lower() for w in FRESH_WORDS)
        plan = (
            ("hybrid_search" if relevant else "web_search") if fresh
            else ("document_rag" if relevant else "direct_answer")
        )
        r = got[qid]
        assert (r.query_text, r.plan_type) == (text, plan), qid
        assert list(r.sources) == [p[:300] for p in pages[:3]], qid


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_query_scans_index_once(pipe, spark):
    """query() consumes its retrieval once: one scan of the chunks, one
    MMR pass. A second consumer of the retrieval (a second aggregate,
    join or filter over it) plans its own scan and MMR pass, or reuses
    the first through an exchange that re-reads it."""
    qdf = spark.createDataFrame(
        [(0, "spark table merge window"), (1, "latest news about streaming")],
        "query_id long, query_text string",
    )
    plan = _executed_plan(pipe.query(qdf))
    chunks = re.escape(f"{pipe.index_dir}/chunks")
    assert len(re.findall(rf"FileScan parquet [^\n]*{chunks}", plan)) == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "Reused" not in plan, plan


def test_index_scan_uses_every_core(pipe, spark):
    """The fixture's documents are one row group, so the index would be
    one file and its scan one task without the per-file row cap."""
    n = pipe.stats.n_chunks
    cores = spark.sparkContext.defaultParallelism
    parts = (
        spark.read.parquet(f"{pipe.index_dir}/chunks")
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert parts == min(cores, n)


def test_append_ingest_is_rejected(pipe, spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").limit(5)
    with pytest.raises(ValueError, match="overwrite"):
        pipe.ingest(docs, mode="append")
    assert spark.read.parquet(f"{pipe.index_dir}/idf").count() == 1
    assert spark.read.parquet(f"{pipe.index_dir}/chunks").count() == pipe.stats.n_chunks
