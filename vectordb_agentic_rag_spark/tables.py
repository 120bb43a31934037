"""Fixture-table access (TESTDATA.md / FIXTURES.md).

Ten driver-generated parquet tables per scale factor. Reading via
``spark.read.parquet`` keeps Catalyst in charge: column pruning and
predicate pushdown reach the parquet scan (verify with
``df.explain("formatted")`` — look for PushedFilters / ReadSchema).
"""

from __future__ import annotations

import functools
import inspect
import os
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def sf_tag(sf_dir: str) -> str:
    """Scale-factor tag (e.g. ``sf0.01``) for keying scratch artifacts.

    Any materialized path or table name derived from a fixture dir MUST
    embed this tag: a fixed path + per-(session, sf) memo set silently
    serves stale data when the same session touches sf A, then B, then
    A again (the memo skips the rewrite while the file holds B's data).
    """
    return sf_dir.rstrip("/").rsplit("/", 1)[-1]


# The checkout this package lives in, and the one root under which
# operators write scratch files (materialized layouts, spill probes,
# stream checkpoints). Derived from this file, so a copy of the repo
# writes into its own ``_scratch``.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH_ROOT = os.path.join(REPO_ROOT, "_scratch")

# The one session store: (SparkContext, builder, args) -> what the
# builder returned. Holds checkpointed frames, scan plans, driver-side
# values computed from data, and markers for files written once per
# session. Keyed on the SparkContext object itself: a py4j-free lookup
# (``applicationId`` costs two round trips per call), and the key holds
# a reference, so a stopped context's entries can never be served to a
# new one the way a recycled ``id()`` could.
_SESSION_ARTIFACT_CACHE: dict[tuple, Any] = {}
_MISS = object()


def session_artifact(build: Callable[..., T]) -> Callable[..., T]:
    """Decorator: run ``build(spark, *args)`` once per Spark session and
    return that result on every later call with equal ``args``.

    The single way to hold a checkpointed frame (or a written file, or
    a collected value) across op builds: put the ``localCheckpoint`` /
    write / ``collect`` inside ``build``, never in the op body, where it
    would run eagerly on every DataFrame build.  ``args`` must be
    hashable; an artifact derived from a fixture dir takes ``sf_dir``
    as an argument (see ``sf_tag`` for paths).  ``build``'s
    keyword-only parameters are inputs, not key: a later call with
    equal ``args`` gets the first call's result whatever it passes
    there.  Any other keyword is refused, so a keyed argument cannot
    slip out of the key by being passed by name.
    """
    inputs_ok = {
        p.name
        for p in inspect.signature(build).parameters.values()
        if p.kind is p.KEYWORD_ONLY
    }

    @functools.wraps(build)
    def get(spark: SparkSession, *args, **inputs):
        if inputs and not inputs.keys() <= inputs_ok:
            raise TypeError(
                f"{build.__name__}: pass keyed arguments positionally"
            )
        key = (spark.sparkContext, build, args)
        hit = _SESSION_ARTIFACT_CACHE.get(key, _MISS)
        if hit is _MISS:
            hit = _SESSION_ARTIFACT_CACHE[key] = build(spark, *args, **inputs)
        return hit

    return get


def clear_session_caches() -> None:
    """Drop every session artifact, scan plans and hot-table pins
    included.

    The store deliberately has no TTL — the bench/driver lifecycle is
    one session over one or two sf dirs — but a long-lived session
    sweeping many sf dirs retains every localCheckpoint RDD it ever
    built (ADVICE r10).  Call this between sweeps to release them; the
    next call of each artifact rebuilds it.
    """
    _SESSION_ARTIFACT_CACHE.clear()


@session_artifact
def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (memoized per session).

    DataFrames are immutable, so handing the same scan plan to every
    query is safe and skips repeated parquet-footer schema reads (a
    py4j + filesystem roundtrip per call). Catalyst still prunes
    columns/filters per query — this caches the *plan root*, not data.
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {TABLES}")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects
        # outright (PARQUET_TYPE_ILLEGAL). Read nanos as int64 and floor
        # to microseconds — the same truncation DuckDB applies, so the
        # oracle sees identical values (FIXTURES.md: "Spark reads as µs").
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fixtures carry naive/UTC wall-clock timestamps; pin the session
        # tz so LTZ collection/arithmetic is value-preserving even under
        # the driver's own SparkSession
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # MICROS-generation fixtures: read straight into TimestampType
        # (LTZ) at the scan — no per-row NTZ->LTZ projection cast
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        # fixture generations differ: TIMESTAMP(NANOS) parquet arrives as
        # int64 under nanosAsLong, TIMESTAMP(MICROS) as timestamp — check
        # the dtype, don't assume. Normalize to TimestampType (LTZ) so
        # unix_micros()/window() callers work.
        from pyspark.sql.types import LongType, TimestampNTZType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            # defensive: a reader that bypassed the conf above
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql() queries."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def cache_hot_tables(spark: SparkSession, sf_dir: str, names=None) -> None:
    """Pin fixture tables into Spark's in-memory columnar cache.

    The engine's buffer-pool analogue: DuckDB's warm runs re-read parquet
    through the OS page cache; Spark's InMemoryRelation additionally skips
    the per-query parquet decode, which is the steady-state a resident
    analytics service runs at. Scale note: at 100 TB you cache the *hot
    working set* (dims, current partitions), not the fact table — callers
    pass ``names`` accordingly; storage level MEMORY_AND_DISK spills
    instead of OOMing when the set is mis-sized.
    """
    import math

    import pyarrow.parquet as pq

    for name in names or TABLES:
        df = table(spark, sf_dir, name)
        if df.is_cached:  # pinned earlier this session
            continue
        # Right-size the cached relation: the parquet scan is planned at
        # leaf-node default parallelism (32 slices here) even for a 1 MB
        # file, and an InMemoryRelation keeps its builder's partitioning
        # — so every later query would schedule 32 near-empty tasks.
        #
        # Partition count tracks COMPUTE, not compressed bytes (the old
        # bytes/2MB rule put 100k events rows in ONE partition and made
        # every window sort single-threaded — measured 0.12 s vs 0.07 s
        # for the headline window query). Cost model: one array element
        # costs about one plain row (higher-order functions are
        # interpreted, not codegen'd), long text a few rows — so the
        # embeddings/documents tables get proportionally more slices.
        # Grid-measured at sf0.1: rows/2000 with these weights is the
        # flat-bottom optimum; at cluster scale the same rule lands at
        # the usual 10-50M weighted rows per 128 MB-ish partition.
        # Layout-agnostic row count: fixture tables are single files,
        # but Spark-written datasets are directories of part files.
        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(path):
            rows = sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for root, _, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            )
        else:
            rows = pq.ParquetFile(path).metadata.num_rows
        weight = {"embeddings": 8, "documents": 2}.get(name, 1)
        k = max(1, min(16, math.ceil(rows * weight / 2000)))
        # repartition (round-robin), not coalesce: even slices matter
        # more than the one-time shuffle when the relation is reused by
        # every subsequent query
        cached = (df.coalesce(1) if k == 1 else df.repartition(k)).cache()
        cached.count()
        _SESSION_ARTIFACT_CACHE[
            (spark.sparkContext, table.__wrapped__, (sf_dir, name))
        ] = cached
