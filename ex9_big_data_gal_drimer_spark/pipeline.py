"""Batch ETL pipeline: materialize → sample → export → document.

Reproduces the reference's end-to-end lifecycle (SURVEY.md §3.1,
reference main.py:239-338,370-399) with the redundancies removed:

- reference: each query executes twice (fetchall + CTAS) and the CSV
  is re-scanned per query.  Here: one logical plan per query, cached
  across the two sinks, executed once per sink action.
- reference: sample rows round-trip DuckDB→pandas→DuckDB→SQLite.
  Here: the sample is a DataFrame derived from the cached result;
  export happens at the already-small (≤500 rows) boundary.

Sinks (SURVEY.md §2.1): S3 CTAS → ``saveAsTable`` (Parquet tables in
the warehouse), R1 seeded sample tables, S9 SQLite export via
pandas (the serving DB stays tiny by construction), S7/S8/S12 catalog
introspection → markdown docs.
"""

from __future__ import annotations

import datetime
import os
import re
import shutil
import sqlite3

from pyspark.sql import DataFrame, SparkSession

from .operators.sampling import seeded_sample_n

SAMPLE_ROWS = 500
SAMPLE_SEED = 42


def materialize_query(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    sample_rows: int = SAMPLE_ROWS,
    seed: int = SAMPLE_SEED,
    metrics: dict | None = None,
) -> tuple[str, str]:
    """CTAS the full result + a seeded ≤n-row sample table.

    `{name}_results` and `{name}_sample` land in the session warehouse
    as Parquet tables (reference main.py:265-289, minus the double
    execution: the result plan is cached once, both sinks read it).

    Pass a dict as ``metrics`` to receive observed write-time metrics
    (``rows``): an `Observation` rides the results-write action, so
    the count costs nothing extra — no separate ``df.count()`` pass
    (at 100 TB a post-hoc count is a second full scan).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    results_table = f"{name}_results"
    sample_table = f"{name}_sample"
    df = df.cache()
    obs: Observation | None = None
    if metrics is not None:
        obs = Observation(f"{name}_write_metrics")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    try:
        spark.sql(f"DROP TABLE IF EXISTS {results_table}")
        spark.sql(f"DROP TABLE IF EXISTS {sample_table}")
        # a killed prior process can leave the managed location on disk
        # with no catalog entry; saveAsTable then fails with
        # LOCATION_ALREADY_EXISTS — clear such orphans
        warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
        warehouse = warehouse.removeprefix("file:")
        for t in (results_table, sample_table):
            loc = os.path.join(warehouse, t.lower())
            if warehouse and os.path.isdir(loc):
                shutil.rmtree(loc, ignore_errors=True)
        df.write.mode("overwrite").saveAsTable(results_table)
        if obs is not None:
            metrics.update(obs.get)
        seeded_sample_n(df, sample_rows, seed).write.mode("overwrite").saveAsTable(
            sample_table
        )
    finally:
        df.unpersist()
    return results_table, sample_table


def export_samples_to_sqlite(
    spark: SparkSession, sqlite_path: str, table_filter: str = "_sample"
) -> list[str]:
    """Export every sample table to a SQLite serving DB (S9).

    The reference ships ``small_tables.db`` the same way
    (main.py:300-338).  Tables are ≤SAMPLE_ROWS rows by construction,
    so the pandas hop is the right tool — a JDBC writer would add a
    jar dependency to move kilobytes.
    """
    os.makedirs(os.path.dirname(sqlite_path) or ".", exist_ok=True)
    exported = []
    with sqlite3.connect(sqlite_path) as conn:
        for t in spark.catalog.listTables():
            if table_filter in t.name:
                spark.table(t.name).toPandas().to_sql(
                    t.name, conn, if_exists="replace", index=False
                )
                exported.append(t.name)
    return exported


def generate_documentation(spark: SparkSession, out_path: str) -> str:
    """Catalog docs: table list, row counts, schemas → markdown.

    Reference main.py:340-399 via information_schema/PRAGMA; here
    spark.catalog.listTables/listColumns.  Exact counts are computed
    only for the bounded ``_sample`` tables (≤SAMPLE_ROWS by
    construction); other tables use the catalog's stored statistics
    when available — scanning every result table just to print a row
    count is the kind of hidden full pass that hurts at scale.
    """
    lines = [
        "# Database documentation",
        "",
        f"Generated: {datetime.datetime.now(datetime.timezone.utc):%Y-%m-%d %H:%M:%S} UTC",
        "",
    ]
    for t in sorted(spark.catalog.listTables(), key=lambda t: t.name):
        df = spark.table(t.name)
        if t.name.endswith("_sample"):
            rows = str(df.count())
        else:
            stats = spark.sql(f"DESCRIBE EXTENDED {t.name}").collect()
            detail = {r.col_name: r.data_type for r in stats}
            m = re.search(r"(\d+) rows", detail.get("Statistics", "") or "")
            rows = m.group(1) if m else "(not computed — run ANALYZE TABLE)"
        lines += [f"## {t.name}", "", f"Rows: {rows}", "", "| column | type |", "|---|---|"]
        lines += [f"| {f.name} | {f.dataType.simpleString()} |" for f in df.schema.fields]
        lines.append("")
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines))
    return out_path
