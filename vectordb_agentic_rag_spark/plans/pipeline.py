"""RagPipeline — the reference application's full lifecycle as a
batch-native Spark facade (SURVEY.md §3 "query lifecycle").

A user of Bharath8080/VectorDB-Agentic-RAG drives three entry points;
each maps to one method here:

| reference entry point                    | app.py        | here        |
|------------------------------------------|---------------|-------------|
| upload -> extract -> chunk -> embed ->   | 160-212,      | ingest()    |
|   upsert into Qdrant                     | 451-484       |             |
| chat query -> MMR retrieve -> relevance  | 256-296,      | retrieve(), |
|   gate -> route to one of 4 plan types   | 298-433       | query()     |
| "Clear All Data" -> drop + recreate      | 492-509       | clear()     |
|   collection                             |               |             |

Scale design (the part the reference outsources to Qdrant/Cohere):

- the "vector store" is a parquet layout under ``index_dir`` (chunks +
  embeddings + idf weights) — a storage format a 1000-executor cluster
  can scan/prune, not a serving index. Files are capped at
  ceil(n_chunks / defaultParallelism) rows, so even a corpus that
  arrives as one input partition scans on every core (no shuffle: the
  cap only rolls files inside each write task);
- embedding is HashingTF(dim)+IDF: hashing is stateless murmur3 (any
  executor embeds any row with no model shuffle), and the IDF fit is
  the single global aggregate of the write path (SURVEY §3.1); its row
  count is the chunk count, so ingest never re-runs itself to count;
- retrieval is batch top-k: the corpus norm is projected once per
  chunk below the cross join and the query norm once per query on the
  broadcast side, so each (chunk, query) pair costs one HOF dot —
  ``dot / (en * qn)`` is ``cosine``'s own fold order and division, so
  sims are bit-identical. fetch_k survives a per-query row_number
  window (a partial WindowGroupLimit runs before its shuffle), and MMR
  only ever touches <= fetch_k rows (the reference's own bound,
  app.py:264-266);
- queries are a DataFrame, not a string: ``retrieve`` takes a whole
  table of queries and resolves them in ONE pass over the corpus
  (query-side broadcast), because at 100 TB per-query scans are the
  bug, not the feature. ``query`` consumes that pass once: the
  relevance gate and the source previews come from one per-query
  aggregate, so the index is scanned and scored once per call.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import dot, norm
from ..operators.ml import mmr_select
from ..operators.text import chunk_documents

# reference retrieval constants, app.py:264-266
DEFAULT_K = 5
DEFAULT_FETCH_K = 20
DEFAULT_LAMBDA = 0.5

# the index's on-disk schemas, given to the reader so that planning a
# read starts no footer-inference job
CHUNKS_SCHEMA = (
    "chunk_id long, doc_id long, chunk_no int, page_content string, "
    "embedding array<double>"
)
IDF_SCHEMA = "idf array<double>"


@dataclass(frozen=True)
class IngestStats:
    n_docs: int
    n_chunks: int
    dim: int


class RagPipeline:
    """Batch analogue of the reference's Streamlit session: one index
    directory plays the role of the Qdrant collection ``"new"``
    (app.py:81) plus the Cohere embedding config (app.py:70)."""

    def __init__(self, spark: SparkSession, index_dir: str, dim: int = 64):
        self.spark = spark
        self.index_dir = index_dir.rstrip("/")
        self.dim = dim

    # ---------------------------------------------------------- write path

    def ingest(
        self, docs: DataFrame, text_col: str = "text", mode: str = "overwrite"
    ) -> IngestStats:
        """SURVEY §3.1: documents -> 1000/200 chunks -> TF-IDF embed ->
        parquet index. ``mode="overwrite"`` reproduces the reference's
        new-file cache invalidation (app.py:455-461): a re-ingest
        atomically replaces the collection. ``mode="append"`` is
        rejected: it would add a second idf row and embed the new chunks
        under a different IDF fit than the old ones.

        The only cross-node boundaries are the IDF document-frequency
        reduce and the final write — same shape at any scale.
        """
        from pyspark.ml.feature import IDF, HashingTF, Tokenizer

        if mode == "append":
            raise ValueError(
                "ingest(mode='append') is not supported: the IDF weights are "
                "fit over the whole collection, so a re-ingest must overwrite "
                "it (mode='overwrite') with every document"
            )
        # doc_id as long whatever the input's width: CHUNKS_SCHEMA is fixed
        chunks = chunk_documents(
            docs.withColumn("doc_id", F.col("doc_id").cast("long")), text_col
        ).withColumn(
            "chunk_id",
            F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_no"),
        )
        toks = Tokenizer(inputCol="page_content", outputCol="words").transform(chunks)
        tf = HashingTF(
            inputCol="words", outputCol="tf", numFeatures=self.dim
        ).transform(toks)
        idf_model = IDF(inputCol="tf", outputCol="embedding").fit(tf)
        embedded = idf_model.transform(tf)

        from pyspark.ml.functions import vector_to_array

        out = embedded.select(
            "chunk_id",
            "doc_id",
            "chunk_no",
            "page_content",
            vector_to_array("embedding").alias("embedding"),
        )
        # the fit counted the chunks; ceil(n / cores) rows per file lets
        # a single-partition input still scan on every core
        n_chunks = idf_model.numDocs
        per_file = math.ceil(n_chunks / self.spark.sparkContext.defaultParallelism)
        out.write.mode(mode).option("maxRecordsPerFile", per_file).parquet(
            f"{self.index_dir}/chunks"
        )
        # idf weights as a 1-row table so retrieve() can embed queries
        # identically without refitting (hashing itself is stateless)
        self.spark.createDataFrame(
            [([float(x) for x in idf_model.idf],)], IDF_SCHEMA
        ).write.mode(mode).parquet(f"{self.index_dir}/idf")

        n_docs = docs.count()
        return IngestStats(n_docs=n_docs, n_chunks=n_chunks, dim=self.dim)

    # ----------------------------------------------------------- read path

    def _chunks(self) -> DataFrame:
        return self.spark.read.schema(CHUNKS_SCHEMA).parquet(f"{self.index_dir}/chunks")

    def _embed_queries(self, queries: DataFrame, text_col: str) -> DataFrame:
        """Embed query rows with the stored idf weights — murmur3
        HashingTF is deterministic, so query and corpus land in the
        same space with zero model state beyond the idf vector."""
        from pyspark.ml.feature import HashingTF, Tokenizer
        from pyspark.ml.functions import vector_to_array

        toks = Tokenizer(inputCol=text_col, outputCol="words").transform(queries)
        tf = HashingTF(
            inputCol="words", outputCol="tf", numFeatures=self.dim
        ).transform(toks)
        idf = self.spark.read.schema(IDF_SCHEMA).parquet(f"{self.index_dir}/idf")
        return (
            tf.crossJoin(F.broadcast(idf))
            .withColumn(
                "qv",
                F.zip_with(
                    vector_to_array("tf"), "idf", lambda a, b: a * b
                ),
            )
            .drop("words", "tf", "idf")
        )

    def retrieve(
        self,
        queries: DataFrame,
        text_col: str = "query_text",
        id_col: str = "query_id",
        k: int = DEFAULT_K,
        fetch_k: int = DEFAULT_FETCH_K,
        lambda_mult: float = DEFAULT_LAMBDA,
        mmr: bool = True,
    ) -> DataFrame:
        """R8 port (perform_vector_search, app.py:256-296), set-oriented:
        ALL queries resolve in one corpus pass.

        Each side's norm is projected before the cross join (once per
        chunk, once per query), so a pair costs one dot; the sim is
        ``round(cosine, 6)`` bit for bit. fetch_k candidates per query
        come from a partitioned window top-k (partial per-partition
        limits run before its shuffle), then greedy MMR per query group
        in applyInPandas — bounded at fetch_k rows per group, never the
        corpus. ``mmr=False`` reproduces the reference's second,
        default-settings retriever (app.py:401).
        """
        import pandas as pd

        qv = F.col("qv")
        q = self._embed_queries(queries, text_col).select(
            F.col(id_col).alias("query_id"), qv, norm(qv).alias("qn")
        )
        emb = F.col("embedding")
        corpus = self._chunks().select(
            "chunk_id", "doc_id", "page_content", emb, norm(emb).alias("en")
        )
        sim = F.round(dot(emb, qv) / (F.col("en") * F.col("qn")), 6)
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("chunk_id")
        )
        cands = (
            corpus.crossJoin(F.broadcast(q))
            .select("query_id", "chunk_id", "doc_id", "page_content",
                    "embedding", sim.alias("sim"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= (fetch_k if mmr else k))
            .drop("rn")
        )
        if not mmr:
            return cands.select(
                "query_id", "chunk_id", "doc_id", "page_content", "sim"
            )

        def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
            picked = mmr_select(
                list(zip(pdf.chunk_id, pdf.embedding, pdf.sim)), k, lambda_mult
            )
            rank_of = {vid: i for i, (vid, _) in enumerate(picked)}
            score_of = dict(picked)
            out = pdf[pdf.chunk_id.isin(rank_of)].copy()
            out["mmr_score"] = out.chunk_id.map(score_of)
            out["mmr_rank"] = out.chunk_id.map(rank_of)
            return out.sort_values("mmr_rank").drop(columns=["embedding"])

        schema = (
            "query_id long, chunk_id long, doc_id long, page_content string, "
            "sim double, mmr_score double, mmr_rank int"
        )
        return cands.groupBy("query_id").applyInPandas(rerank, schema)

    def _gate(
        self, retrieved: DataFrame, queries: DataFrame, text_col: str, id_col: str
    ) -> DataFrame:
        """One aggregate per query over the MMR result: the relevance
        verdict and the top-3 source previews (query_id, relevant,
        sources). ``query`` reads both from this one consumption of
        ``retrieved``; ``assess_relevance`` selects the verdict and
        Catalyst prunes the unused previews."""
        kw = F.filter(
            F.split(F.lower(F.col(text_col)), " "), lambda w: F.length(w) > 3
        )
        q = queries.select(F.col(id_col).alias("query_id"), kw.alias("keywords"))
        hits = F.size(
            F.filter(
                F.col("keywords"),
                lambda k: F.instr(F.lower(F.col("page_content")), k) > 0,
            )
        )
        # app.py:359 `[:3]`, app.py:544 `[:300]`
        preview = F.struct(
            "mmr_rank", F.substring("page_content", 1, 300).alias("preview")
        )
        joined = retrieved.join(F.broadcast(q), "query_id")
        return joined.groupBy("query_id").agg(
            F.count("*").alias("n_docs"),
            F.max(hits).alias("matches"),
            F.first(F.size("keywords")).alias("n_keywords"),
            F.array_sort(
                F.collect_list(F.when(F.col("mmr_rank") < 3, preview))
            ).alias("ranked"),
        ).select(
            "query_id",
            (
                (F.col("n_docs") >= 3)
                | (F.col("matches") >= F.col("n_keywords") / 2)
            ).alias("relevant"),
            F.transform(F.col("ranked"), lambda s: s.preview).alias("sources"),
        )

    def assess_relevance(
        self, retrieved: DataFrame, queries: DataFrame,
        text_col: str = "query_text", id_col: str = "query_id",
    ) -> DataFrame:
        """R9 port (assess_document_relevance, app.py:278-295), per query:
        relevant iff >= 3 chunks retrieved OR the chunks contain at
        least half of the query's len>3 keywords (substring match,
        exactly the reference's `keyword in content`)."""
        return self._gate(retrieved, queries, text_col, id_col).select(
            "query_id", "relevant"
        )

    def route(
        self, queries: DataFrame, relevance: DataFrame,
        text_col: str = "query_text", id_col: str = "query_id",
    ) -> DataFrame:
        """R12's deterministic analogue (app.py:298-343): the LLM
        search-needed bit becomes a freshness-keyword predicate; the
        four-way branch structure is the reference's own
        (app.py:343-433). Columns of ``relevance`` beyond the verdict
        ride along (``query`` passes its source previews this way)."""
        fresh = (
            F.instr(F.lower(F.col(text_col)), "latest") > 0
        ) | (F.instr(F.lower(F.col(text_col)), "current") > 0) | (
            F.instr(F.lower(F.col(text_col)), "news") > 0
        )
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(text_col), fresh.alias("needs_search")
        )
        j = q.join(relevance, "query_id", "left").fillna({"relevant": False})
        plan = (
            F.when(F.col("needs_search") & F.col("relevant"), "hybrid_search")
            .when(F.col("needs_search"), "web_search")
            .when(F.col("relevant"), "document_rag")
            .otherwise("direct_answer")
        )
        extra = [c for c in relevance.columns if c not in ("query_id", "relevant")]
        return j.select("query_id", text_col, plan.alias("plan_type"), *extra)

    def query(
        self, queries: DataFrame,
        text_col: str = "query_text", id_col: str = "query_id",
        k: int = DEFAULT_K,
    ) -> DataFrame:
        """The full read path (SURVEY §3.2): retrieve -> gate -> route ->
        assemble context. Output mirrors the reference's plan dict
        (app.py:405-417): one row per query with plan_type and the
        top-3 source previews (app.py:359 `[:3]`, app.py:544 `[:300]`).
        The retrieval is consumed once (``_gate``), so one call scans
        and scores the index once."""
        retrieved = self.retrieve(queries, text_col, id_col, k=k)
        gate = self._gate(retrieved, queries, text_col, id_col)
        return self.route(queries, gate, text_col, id_col)

    # ----------------------------------------------------------- DDL path

    def clear(self) -> None:
        """"Clear All Data" (app.py:492-509): drop the collection. Uses
        the Hadoop FileSystem API so it works on any cluster filesystem,
        not just local disk."""
        jvm = self.spark._jvm
        jsc = self.spark._jsc
        path = jvm.org.apache.hadoop.fs.Path(self.index_dir)
        fs = path.getFileSystem(jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)
