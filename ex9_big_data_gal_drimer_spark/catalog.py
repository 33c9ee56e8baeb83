"""Table loading for the driver's star-schema testdata.

The reference re-scans its CSV once per query (reference
main.py:30,59,82,98,117,146 — six scans of hotels.csv).  Here every
table is a Parquet scan behind a DataFrame, so Catalyst prunes columns
and pushes predicates into the scan; nothing is eagerly materialized.

Scale note: at 100 TB these reads would be partitioned/bucketed tables
in a real catalog; the API is the same (`spark.read.parquet` →
`spark.table`), so callers are insulated from that switch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import state
from .session import configure

#: All tables the driver generates (TESTDATA.md).
TABLES = (
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
)

#: Small dimension tables — always broadcast-join these.
DIM_TABLES = {"region", "nation", "supplier", "part"}

#: Columns stored as INT64 TIMESTAMP(NANOS), which Spark surfaces as
#: LongType under spark.sql.legacy.parquet.nanosAsLong=true.  We convert
#: to timestamp_ntz (micro precision) so they behave like the other
#: timestamp columns and hash-match the DuckDB oracle.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Small driver-local relation (rule tables, model rows, trained
    results) as ONE partition.

    ``spark.createDataFrame(list, ...)`` parallelizes even a 3-row
    list into defaultParallelism partitions, so every materialization
    pays a 32-task job with a Python-worker round trip per task —
    measured ~1.6 s per collect for 3 rows on local[32] vs ~0.1 s via
    this path (round-13, guide §1.2).  Routing through pandas+Arrow
    produces one batch; ``coalesce(1)`` pins one partition.  For
    non-null, driver-sized relations only — pandas would coerce None
    in numeric columns to NaN.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    names = StructType.fromDDL(schema).names
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=names)
    return spark.createDataFrame(pdf, schema=schema).coalesce(1)


def normalize_nano_timestamps(
    df: DataFrame, cols: tuple[str, ...], ntz: bool = True
) -> DataFrame:
    """Normalize event-time columns across the testdata's parquet
    encodings: INT64 TIMESTAMP(NANOS) surfaces as LongType (under
    nanosAsLong) and is divided down to micros — integer division
    keeps full precision (a double round-trip would lose it:
    1.7e18 > 2^53); TIMESTAMP(MICROS) surfaces as timestamp_ntz
    directly.

    ``ntz=True`` yields timestamp_ntz (matches how Spark reads the
    micro-precision columns in the other tables, and what the DuckDB
    oracle sees).  Streaming callers pass ``ntz=False``: event-time
    watermarks require TIMESTAMP (LTZ), so ntz columns are cast over —
    equal wall-clock values under the engine's fixed UTC session
    timezone.
    """
    for col in cols:
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            expr = f"timestamp_micros({col} div 1000)"
            if ntz:
                expr = f"CAST({expr} AS timestamp_ntz)"
            df = df.withColumn(col, F.expr(expr))
        elif dtype == "timestamp_ntz" and not ntz:
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def table_path(sf_dir: str, name: str) -> str:
    """The parquet file of testdata table ``name`` — the input that
    memos and stores over the table key on."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame, normalizing timestamps.

    Only the FIRST load of a table pays the schema-inference job (the
    schema is memoized); later plan construction launches no Spark job
    (pinned by test_plan_audit.test_no_action_during_query_construction)."""
    configure(spark)
    path = table_path(sf_dir, name)
    schema = state.memo(
        spark, "schema", path, build=lambda: spark.read.parquet(path).schema
    )
    df = spark.read.schema(schema).parquet(path)
    df = normalize_nano_timestamps(df, _NANO_TS_COLS.get(name, ()))
    # Must mirror the cached plan exactly: CacheManager substitutes the
    # in-memory relation only when the query's subtree matches it.
    cached = state.memo(spark, "cached_table", path)
    if cached is not None and cached[0]:
        df = df.repartition(cached[0])
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Alias of :func:`load_table` for terse query code."""
    return load_table(spark, sf_dir, name)


def cache_tables(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Eagerly cache the testdata tables for suite-style workloads.

    One ``.cache()`` + materialize per table; every later
    ``load_table`` of the same path produces a plan whose scan subtree
    matches the cached one, so Catalyst's CacheManager substitutes the
    in-memory columnar relation automatically — the 56-query bench
    suite then reads each parquet file exactly once instead of once
    per query per repeat.

    Fact tables fan out to ``width`` partitions before caching: a
    sub-128 MB parquet file scans as ONE partition, and a 1-partition
    cached fact table serializes every partial aggregate built on it
    (measured: q3's triple-distinct 0.65 s serial vs 0.27 s at 8-wide
    on the same data).  Dims stay narrow — 16 partitions of a 25-row
    table is pure task overhead.  The memo records (width, frame).

    Scale note: this is the bench/pipeline amortization path for
    results that fit executor storage.  At 100 TB you would NOT cache
    the fact tables — leave this uncalled and every query reads the
    (bucketed, pruned) parquet directly; Spark's LRU + MEMORY_AND_DISK
    keep it safe if called anyway.
    """
    width = min(spark.sparkContext.defaultParallelism, 16)

    def cache(name: str) -> tuple[int, DataFrame]:
        w = 0 if name in DIM_TABLES else width
        df = load_table(spark, sf_dir, name)
        if w:
            df = df.repartition(w)
        df.cache().count()
        return w, df

    for name in tables:
        state.memo(
            spark, "cached_table", table_path(sf_dir, name),
            build=lambda: cache(name),
        )


def release_caches(spark: SparkSession) -> None:
    """Drop every cached plan in the session (table caches AND the
    dedup/similarity operators' internal signature caches).

    The operator caches are deduped by CacheManager per logical plan,
    so within one input they never accumulate — but a long-lived
    session running many sf_dirs (pipeline CLI, notebooks) holds one
    entry per distinct input per cached operator (ADVICE r1).  Call
    this when a batch of work completes; subsequent queries simply
    recompute/refill.  This is the one release path of the session's
    memos too (``state.release``): every memoized frame is unpersisted
    and every memo misses afterwards."""
    spark.catalog.clearCache()
    state.release(spark)


#: Query-created caches — intra-query intermediates persisted because
#: >1 consumer reads them (posting lists, signature tables, loop
#: invariants).  Registered so a harness can RELEASE them between
#: timed runs: with the caches dropped before each rep, the rep's
#: action re-materializes them and the persist's cost is charged to
#: the timed region instead of hiding in the untimed warmup (round-13
#: verdict #2 — persist-only changes must move the bench number by
#: ~0).  Input-table caches (cache_tables, the hotels fixture parse)
#: are NOT here: they are the declared suite amortization, reported
#: as setup_seconds.
_QUERY_CACHES: list[DataFrame] = []


def query_persist(df: DataFrame) -> DataFrame:
    """Persist an intra-query intermediate and register it for
    :func:`release_query_caches`.  Same storage level as bare
    ``.persist()``; the only difference is the registration."""
    df.persist()
    _QUERY_CACHES.append(df)
    return df


def release_query_caches() -> int:
    """Unpersist every registered query-created cache (idempotent;
    double-unpersist is a no-op).  Returns how many were released.
    Harnesses call this between timed runs so every run re-computes
    from the input tables; long-lived sessions call it to stop cache
    entries accumulating across many queries (round-13 verdict #7)."""
    n = len(_QUERY_CACHES)
    for df in _QUERY_CACHES:
        try:
            df.unpersist()
        except Exception:
            pass
    _QUERY_CACHES.clear()
    return n


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
