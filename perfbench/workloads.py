"""The benchmark's workloads.

Each workload drives the package's public entry points from one
process: one SparkSession from ``session.get_spark()`` and one
closed-loop client (the next operation is sent only after the previous
one returned), no threads. A workload provides

- ``generate()``   seeded inputs, written under the run's work dir;
- ``setup()``      per-session state (the index build);
- ``warmup()``     the first ``warmup_ops`` operations, untimed, outputs kept;
- ``op(i)``        one timed operation, its output kept for checking;
- ``check()``      the oracle verdict over every kept output;
- ``decompose()``  the traced run's per-layer executions.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

import gen
import oracles
import procstat
from vectordb_agentic_rag_spark.tables import TABLES

# ops_sample: three headline ops of bench.py (an aggregation, a shuffle
# join, a vector top-k) and one op running a pandas UDF in the Python
# workers. Every op here writes nothing outside Spark's own temp space
# and has a DuckDB twin. The sample is small so that, in a run's time,
# each op runs often enough for the JVM to compile its hot paths.
OPS_SAMPLE = [
    "agg_hash_group",
    "join_shuffle_equi",
    "vec_cosine_topk",
    "udf_registered_cosine",
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


class Workload:
    """Shared state: the run's work dir, fixture dir and session."""

    needs_relational = False
    # operations run before the timed loop while the JVM compiles the hot
    # paths: a query batch took 15-25% longer on its first repetitions
    # than on the third
    warmup_ops = 2

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.sf_dir = os.path.join(work, "fixture", "sf0.1")
        self.spark = None
        self.tracer = None  # set for the traced loop
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def generate(self) -> None:
        gen.write_fixture(self.seed, self.sf_dir, relational=self.needs_relational)
        self.docs = gen.documents(self.seed)

    def span(self, name: str, i: int):
        return self.tracer.span(name, i) if self.tracer else contextlib.nullcontext()

    def scan_tables(self) -> None:
        from vectordb_agentic_rag_spark.tables import table

        for name in TABLES:
            if os.path.exists(os.path.join(self.sf_dir, f"{name}.parquet")):
                table(self.spark, self.sf_dir, name)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 10:
            self.problems.append(what)

    def setup(self) -> None:
        pass

    def loop_value(self, samples: list[tuple]) -> float:
        """Seconds of the run's operation: the median over the timed
        operations, each (wall s, CPU s, steal s, parts), of the wall
        time less the host's steal (procstat.uncontended)."""
        return statistics.median(procstat.uncontended(t, c, st) for t, c, st, _ in samples)


def _decompose_ingest(tr, i: int, pipe, docs_df):
    """Chunking alone, then the whole ingest, each executed once."""
    from vectordb_agentic_rag_spark.operators.text import chunk_documents

    with tr.span("text.chunk.exec", i):
        _noop(chunk_documents(docs_df))
    with tr.span("pipeline.ingest.exec", i):
        return pipe.ingest(docs_df, mode="overwrite")


def _ingest_metrics(tr, log, stats, index_ratio: float) -> dict:
    ing = tr.ids("pipeline.ingest.exec")
    return {
        "text.chunk.exec_s": tr.median("text.chunk.exec"),
        "text.chunk.rows_out": stats.n_chunks,
        "text.chunk.chunks_per_doc": stats.n_chunks / stats.n_docs,
        "pipeline.ingest.build_s": tr.median("pipeline.ingest.build"),
        "pipeline.ingest.exec_s": tr.median("pipeline.ingest.exec"),
        "pipeline.ingest.jobs": _med(log, ing, "jobs"),
        "pipeline.ingest.stages": _med(log, ing, "stages"),
        "pipeline.ingest.task_cpu_s": _med(log, ing, "cpu_ns") / 1e9,
        "pipeline.ingest.gc_s": _med(log, ing, "gc_ms") / 1e3,
        "pipeline.ingest.shuffle_write_bytes": _med(log, ing, "shuffle_write_bytes"),
        "pipeline.ingest.spill_bytes": _med(log, ing, "spill_bytes"),
        "pipeline.ingest.bytes_written": _med(log, ing, "bytes_written"),
        "pipeline.ingest.index_bytes_per_text_byte": index_ratio,
    }


class RagQuery(Workload):
    """``query()`` over the fixture-document index, QUERY_BATCH queries
    per call, each call's result fetched before the next is sent."""

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.index_dir = os.path.join(work, "query_index")
        self.sent: list[tuple[int, str, str]] = []
        self.results: list = []

    def setup(self) -> None:
        from vectordb_agentic_rag_spark.plans.pipeline import RagPipeline
        from vectordb_agentic_rag_spark.tables import table

        self.pipe = RagPipeline(self.spark, self.index_dir)
        self.pipe.ingest(table(self.spark, self.sf_dir, "documents"), mode="overwrite")

    def _batch(self, i: int):
        return gen.queries(self.docs, self.seed, QUERY_BATCH, start_id=(i + 1) * QUERY_BATCH)

    def _frame(self, qs):
        return self.spark.createDataFrame(
            [(q, t) for q, t, _ in qs], "query_id long, query_text string"
        )

    def warmup(self) -> None:
        for _ in range(self.warmup_ops):
            self.op(10_000 + len(self.results))

    def op(self, i: int) -> None:
        qs = self._batch(i)
        with self.span("pipeline.query.build", i):
            q = self.pipe.query(self._frame(qs))
        with self.span("pipeline.query.fetch", i):
            out = q.toPandas()
        self.sent.extend(qs)
        self.results.append(out)

    def check(self) -> dict:
        doc_rows = [(d, t) for d, t in zip(
            self.docs.column("doc_id").to_pylist(), self.docs.column("text").to_pylist()
        )]
        for p in oracles.check_index(self.index_dir, doc_rows):
            self.fail(f"index: {p}")
        self.oracle = oracles.QueryOracle(self.index_dir)
        got = {}
        for out in self.results:
            for qid, plan, src in zip(out.query_id, out.plan_type, out.sources):
                got[int(qid)] = (plan, None if src is None else [str(s) for s in src])
        plans: dict[str, int] = {}
        unmatched = 0
        for qid, text, kind in self.sent:
            self.attempted += 1
            want = self.oracle.answer(text)
            if want is None:
                self.fail(f"query {qid}: zero query vector, cosine undefined")
                continue
            plans[want[0]] = plans.get(want[0], 0) + 1
            unmatched += want[2] == 0
            if got.get(qid) != (want[0], want[1]):
                self.fail(f"query {qid} {text!r}: got {got.get(qid)!r:.200} want {want[:2]!r:.200}")
        n = max(1, len(self.sent))
        text_bytes = sum(len(t.encode("utf-8")) for _, t in doc_rows)
        return {
            "queries": len(self.sent),
            "queries_per_call": QUERY_BATCH,
            "text_bytes": text_bytes,
            "index_chunks": len(self.oracle.ix["chunk_id"]),
            "chunks_per_doc": round(len(self.oracle.ix["chunk_id"]) / len(doc_rows), 4),
            "index_bytes_per_text_byte": round(oracles.index_bytes(self.index_dir) / text_bytes, 4),
            "expected_plan_type": plans,
            "unmatched_share": round(unmatched / n, 4),
            "oov_share": round(sum(k == "oov" for *_, k in self.sent) / n, 4),
            "fresh_share": round(sum(k == "fresh" for *_, k in self.sent) / n, 4),
        }

    def decompose(self, tr) -> None:
        """Each stage of the read path, and the ingest, executed once."""
        from vectordb_agentic_rag_spark.operators.ml import mmr_select
        from vectordb_agentic_rag_spark.tables import table

        i = 0
        with tr.span("pipeline.ingest.build", i):
            docs_df = table(self.spark, self.sf_dir, "documents")
        self.ingest_stats = _decompose_ingest(tr, i, self.pipe, docs_df)
        qs = self._batch(20_000)
        qdf = self._frame(qs)
        pipe = self.pipe
        with tr.span("pipeline.topk.build", i):
            topk = pipe.retrieve(qdf, mmr=False)
        with tr.span("pipeline.topk.plan", i):
            _plan(topk)
        with tr.span("pipeline.topk.exec", i):
            _noop(topk)
        with tr.span("pipeline.mmr.exec", i):
            retrieved = pipe.retrieve(qdf)
            _noop(retrieved)
        with tr.span("pipeline.gate.exec", i):
            rel = pipe.assess_relevance(retrieved, qdf)
            _noop(rel)
        with tr.span("pipeline.route.exec", i):
            _noop(pipe.route(qdf, rel))
        q = pipe.query(qdf)
        with tr.span("pipeline.query.plan", i):
            _plan(q)
        with tr.span("pipeline.query.exec", i):
            _noop(q)
        with tr.span("pipeline.query.single", i):
            pipe.query(self._frame(qs[:1])).toPandas()
        oracle = oracles.QueryOracle(self.index_dir)
        cands = [oracles.mmr_inputs(oracle, t) for _, t, _ in qs]
        with tr.span("ml.mmr_select", i):
            for c in cands:
                mmr_select(c, oracles.K, oracles.LAMBDA)
        self.decomposed_rows = sum(len(c) for c in cands)
        self.decomposed_chunks = len(oracle.ix["chunk_id"])

    def layer_metrics(self, tr, log) -> dict:
        topk_exec = tr.ids("pipeline.topk.exec")
        pairs = _med(log, topk_exec, "matched_join_rows")
        results = QUERY_BATCH * min(oracles.K, self.decomposed_chunks)
        mmr_ids = tr.ids("pipeline.mmr.exec")
        q_exec = tr.ids("pipeline.query.exec")
        exec_q = tr.median("pipeline.query.exec")
        text_bytes = sum(len(t.encode("utf-8")) for t in self.docs.column("text").to_pylist())
        ratio = oracles.index_bytes(self.index_dir) / text_bytes
        return {
            **_ingest_metrics(tr, log, self.ingest_stats, ratio),
            "pipeline.topk.build_s": tr.median("pipeline.topk.build"),
            "pipeline.topk.build_jobs": _med(log, tr.ids("pipeline.topk.build"), "jobs"),
            "pipeline.topk.plan_s": tr.median("pipeline.topk.plan"),
            "pipeline.topk.exec_s": tr.median("pipeline.topk.exec"),
            "pipeline.topk.task_cpu_s": _med(log, topk_exec, "cpu_ns") / 1e9,
            "pipeline.topk.shuffle_write_bytes": _med(log, topk_exec, "shuffle_write_bytes"),
            "pipeline.topk.spill_bytes": _med(log, topk_exec, "spill_bytes"),
            "pipeline.topk.pairs_scored": pairs,
            "pipeline.topk.pairs_per_result": pairs / results,
            "pipeline.mmr.exec_s": max(
                0.0, tr.median("pipeline.mmr.exec") - tr.median("pipeline.topk.exec")
            ),
            "pipeline.mmr.python_s": _med(log, mmr_ids, "python_run_s"),
            "pipeline.mmr.rows_to_python": self.decomposed_rows,
            "ml.mmr_select_s": tr.median("ml.mmr_select"),
            "pipeline.gate.exec_s": max(
                0.0, tr.median("pipeline.gate.exec") - tr.median("pipeline.mmr.exec")
            ),
            "pipeline.route.exec_s": max(
                0.0, tr.median("pipeline.route.exec") - tr.median("pipeline.gate.exec")
            ),
            "pipeline.query.build_s": tr.median("pipeline.query.build"),
            "pipeline.query.build_jobs": _med(log, tr.ids("pipeline.query.build"), "jobs"),
            "pipeline.query.plan_s": tr.median("pipeline.query.plan"),
            "pipeline.query.exec_s": exec_q,
            "pipeline.query.fetch_s": max(0.0, tr.median("pipeline.query.fetch") - exec_q),
            "pipeline.query.jobs": _med(log, q_exec, "jobs"),
            "pipeline.query.index_scans": _med(log, q_exec, "matched_scans"),
            "pipeline.query.single_s": tr.median("pipeline.query.single"),
        }


def _cache_entries() -> int:
    """Entries in the package's module-level ``_*_CACHE`` dicts."""
    import re

    pat = re.compile(r"_[A-Z0-9_]*_CACHE\Z")
    return sum(
        len(v)
        for name, mod in list(sys.modules.items())
        if name.startswith("vectordb_agentic_rag_spark") and mod is not None
        for k, v in vars(mod).items()
        if pat.fullmatch(k) and isinstance(v, dict)
    )


class OpsSample(Workload):
    """One pass = build each op in OPS_SAMPLE and execute it to a noop
    sink; the pass time is the operation."""

    needs_relational = True
    # a pass took a quarter less time by its seventh repetition, then held
    warmup_ops = 7

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.collected: list[tuple[str, list, list]] = []

    def warmup(self) -> None:
        """The first pass collects every op, keeping its rows for the
        DuckDB check, and counts the session-cache entries it built;
        the others are untimed ``op`` passes."""
        from vectordb_agentic_rag_spark.registry import QUERIES

        self.cache_entries_built = 0
        for name in OPS_SAMPLE:
            self.attempted += 1
            before = _cache_entries()
            try:
                df = QUERIES[name](self.spark, self.sf_dir)
                self.collected.append((name, df.columns, [tuple(r) for r in df.collect()]))
            except Exception as e:  # noqa: BLE001 - a failing op is a measured failure
                self.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            self.cache_entries_built += _cache_entries() - before
        for _ in range(self.warmup_ops - 1):
            self.op(-1)

    def op(self, i: int) -> dict[str, float]:
        from vectordb_agentic_rag_spark.registry import QUERIES

        walls = {}
        for name in OPS_SAMPLE:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                _noop(QUERIES[name](self.spark, self.sf_dir))
            except Exception as e:  # noqa: BLE001 - a failing op is a measured failure
                self.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            walls[name] = time.perf_counter() - t0
        return walls

    def loop_value(self, samples) -> float:
        """Sum over the ops of each op's median time across passes, so
        one slow pass of one op (a late JIT compile, a GC) does not move
        the result. Each op's wall time is scaled by its pass's share of
        runnable time the host did not steal (procstat.uncontended)."""
        self.op_medians = {
            name: statistics.median(
                procstat.uncontended(parts[name], c, st) for _, c, st, parts in samples
            )
            for name in OPS_SAMPLE
        }
        return sum(self.op_medians.values())

    def check(self) -> dict:
        """Each first pass's rows against the op's DuckDB twin."""
        from vectordb_agentic_rag_spark.registry import ORACLES

        con = oracles.duckdb_views(self.sf_dir, TABLES)
        for name, cols, rows in self.collected:
            bad = oracles.compare_with_duckdb(con, ORACLES[name], cols, rows)
            if bad:
                self.fail(f"{name}: {bad}")
        con.close()
        return {
            "ops": len(OPS_SAMPLE),
            "op_median_wall_s": {k: round(v, 4) for k, v in self.op_medians.items()},
        }

    def decompose(self, tr) -> None:
        from vectordb_agentic_rag_spark.registry import QUERIES

        for name in OPS_SAMPLE:
            with tr.span("ops.build", 0):
                df = QUERIES[name](self.spark, self.sf_dir)
            with tr.span("ops.plan", 0):
                _plan(df)
            with tr.span("ops.exec", 0):
                _noop(df)
            with tr.span("ops.fetch", 0):
                df.toPandas()

    def layer_metrics(self, tr, log) -> dict:
        def summed(name, key=None, scale=1.0):
            """Sum over the ops of the decomposition pass."""
            spans = [s for s in tr.spans if s["name"] == name]
            if key is None:
                return sum(s["dur"] for s in spans)
            return sum(log[s["id"]][key] for s in spans) / scale

        exec_s = summed("ops.exec")
        return {
            "ops.build_s": summed("ops.build"),
            "ops.build_jobs": summed("ops.build", "jobs"),
            "ops.plan_s": summed("ops.plan"),
            "ops.exec_s": exec_s,
            "ops.fetch_s": max(0.0, summed("ops.fetch") - exec_s),
            "ops.jobs": summed("ops.exec", "jobs"),
            "ops.task_cpu_s": summed("ops.exec", "cpu_ns", 1e9),
            "ops.shuffle_write_bytes": summed("ops.exec", "shuffle_write_bytes"),
            "ops.spill_bytes": summed("ops.exec", "spill_bytes"),
            "ops.python_s": summed("ops.exec", "python_run_s"),
            "ops.cache_entries_built": self.cache_entries_built,
        }


def _med(log, span_ids, key):
    vals = [log[s][key] for s in span_ids]
    return statistics.median(vals) if vals else 0


QUERY_BATCH = 8
WORKLOADS = {"rag_query_batch": RagQuery, "ops_sample": OpsSample}


def make(name: str, seed: int, work: str) -> Workload:
    if name not in WORKLOADS:
        raise SystemExit(f"unknown workload {name!r}; have {sorted(WORKLOADS)}")
    return WORKLOADS[name](seed, work)
