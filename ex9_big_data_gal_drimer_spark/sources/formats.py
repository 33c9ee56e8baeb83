"""Additional source/sink formats: JSON-lines and ORC.

The reference's only interchange formats are CSV and SQLite
(reference main.py:30, 300-338); a generalized engine also meets
JSON-lines (the lingua franca of LLM training-data drops) and ORC
(the other columnar warehouse format Spark reads natively).  Both are
thin wrappers over the built-in readers — the value is pinning the
schema/timestamp conventions so a round-trip is lossless.

Scale notes:
- JSONL is splittable (newline-delimited), so a 100 TB drop still
  fans out; but it re-parses strings per read and carries no column
  statistics — the first pipeline stage should convert to
  Parquet/ORC, exactly like the CSV→Parquet ingest rule (SURVEY.md
  §4).  Always pass an explicit schema: schema inference on JSON
  scans the whole input once before the real read.
- ORC gets the same Catalyst treatment as Parquet (column pruning,
  predicate pushdown, vectorized reader) — assert-covered in
  tests/test_sinks_and_formats.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Default JSON timestamp formats keep only milliseconds; the parquet
#: testdata carries microseconds, so the round-trip pins 6 fractional
#: digits explicitly (both TZ and NTZ flavors).
_TS_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write a DataFrame as newline-delimited JSON (one object per
    line).  Timestamps serialize as ISO-8601 strings with microsecond
    precision; binary columns are base64 — both reversed exactly by
    read_jsonl with the same schema."""
    df.write.mode("overwrite").options(**_TS_OPTS).json(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read newline-delimited JSON with an EXPLICIT schema (no
    inference pass over the data).  PERMISSIVE mode: malformed lines
    become all-NULL rows rather than failing the scan, mirroring the
    CSV source's DROPMALFORMED tolerance philosophy with JSON's
    default."""
    return spark.read.schema(schema).options(**_TS_OPTS).json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Write as ORC (snappy by default — same as the parquet sink)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read ORC; schema comes from the file footer (self-describing,
    unlike JSONL)."""
    return spark.read.orc(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row") -> None:
    """Write as XML (Spark 4 built-in source — previously the external
    spark-xml package).  One element per row under ``row_tag``; like
    JSONL it is a text interchange format, so timestamps pin the
    microsecond ISO format for a lossless round-trip."""
    (
        df.write.mode("overwrite")
        .options(rowTag=row_tag, **_TS_OPTS)
        .format("xml")
        .save(path)
    )


def read_xml(
    spark: SparkSession, path: str, schema: StructType, row_tag: str = "row"
) -> DataFrame:
    """Read XML with an EXPLICIT schema (inference would scan the
    input once, same rule as JSONL).  XML is the least splittable of
    the text formats (row boundaries are tags, not newlines) — fine
    for config/feed ingest, convert to parquet before heavy use."""
    return (
        spark.read.schema(schema)
        .options(rowTag=row_tag, **_TS_OPTS)
        .format("xml")
        .load(path)
    )


def ingest_multiformat(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Idempotently materialize the same orders projection as JSONL,
    ORC, and XML under tmp (a ``state.store_path`` keyed on the orders
    input, written once) and return {format: path}.  The projection
    carries the price as exact BIGINT cents so every format
    round-trips the measure bit-exactly regardless of its float-text
    conventions."""
    import os

    from .. import state
    from ..catalog import load_table, table_path

    root = state.store_path("formats", table_path(sf_dir, "orders"))
    paths = {f: os.path.join(root, f) for f in ("jsonl", "orc", "xml")}

    def write():
        df = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F_round_cents("o_totalprice").alias("price_cents"),
        )
        write_jsonl(df, paths["jsonl"])
        write_orc(df, paths["orc"])
        write_xml(df, paths["xml"])

    state.write_once(write, *paths.values())
    return paths


def F_round_cents(col: str):
    from pyspark.sql import functions as F

    return F.round(F.col(col) * 100).cast("long")
