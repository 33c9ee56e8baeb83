"""The benchmark's two workloads: ``curation`` and ``hotels_etl``.

Both drive the program only through its public functions (``session``,
``catalog``, ``plans``, ``sources``, ``pipeline``, ``viz`` and
``app.dashboard``) and time every call as a span.  Each returns the
live session; the caller reads memory from it, then stops it.

Correctness is checked after the timed part, so it costs no measured
time: results with a DuckDB oracle are compared with the oracle, the
others are fingerprinted and compared with ``expected_curation.json``.

Times and spreads quoted below were measured on a shared 4-core box
with Spark ``local[4]`` (see ``NOTES.md``).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import random
import sqlite3
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from spark_trace import Tracer, catalyst_phases_ms

HERE = Path(__file__).resolve().parent
DATA_DIR = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected_curation.json"

#: Heavy LLM-data operators; the seed only shuffles their order.  Six
#: of the sixteen in the repo's curation family fit the time budget of
#: a run (setup, cold warm-up pass, two timed passes: 62 s).  They
#: cover every layer the family exercises: construction-time jobs
#: (incremental_cc_maintenance, dedup_connected_components,
#: knn_ivfpq_cosine, bpe_train_merges), query caches, an on-disk store,
#: shuffles, and the memoized ANN and BPE legs.  Left out for time, not
#: for failing: llm_pipeline_e2e (alone 17 s of a run, a third of a
#: warm pass; its BPE stage is bpe_train_merges), dedup_simhash,
#: pagerank_part_cooccurrence, knn_lsh_cosine, edit_distance_verify_lsh,
#: dedup_ngram_prefix, curate_training_corpus, group_aware_split and
#: semdedup_embeddings; and resample_user_hourly_chunked, a slower twin
#: of a native plan that may be retired.
CURATION = (
    "dedup_minhash_lsh",
    "doc_bigram_logprob",
    "incremental_cc_maintenance",
    "dedup_connected_components",
    "knn_ivfpq_cosine",
    "bpe_train_merges",
)

#: Timed curation passes per run at least.  One warm pass varies by
#: about 7 % (incremental_cc_maintenance alone by 17 %); the median of
#: two halves that.  A third pass did not steady the runs further on a
#: box whose speed drifts by 20-30 % over minutes, and cost 12 s a run.
CURATION_PASSES = 2

#: Every table the curation mix (and its oracles) reads.
CURATION_TABLES = ("documents", "embeddings", "events")

#: Hotels CSV size.  The reference's full file has 1.01M rows; 100k
#: (26 MB) keeps a run near 35 s, inside the benchmark's time budget.
#: At 50k the pass varied more (9.8 % against 6.6 % between runs).
HOTEL_ROWS = 100_000

#: Generated CSVs kept in the input cache, newest first.
CSV_CACHE_KEEP = 6

#: Sample tables may hold at most this many rows.
SAMPLE_LIMIT = 500

#: Charts the pipeline draws: query -> (kind, label, value, title).
HOTEL_CHARTS = {
    "hotels_q1": ("pie", "countyName", "num_hotels", "Hotels by country"),
    "hotels_q4": ("bar", "countyName", "num_hotels", "Country ranking"),
}


@dataclass
class Run:
    """State of one benchmark run."""

    seed: int
    seconds: float
    tracer: Tracer
    warehouse: Path
    cache: Path
    attempted: int = 0
    failures: dict[str, str] = field(default_factory=dict)
    current: str = ""
    latencies_ms: list[float] = field(default_factory=list)
    pass_walls_s: list[float] = field(default_factory=list)
    setup_s: float = 0.0
    facts: dict = field(default_factory=dict)

    def fail(self, op: str, why: str) -> None:
        """Count attempt ``op`` as failed, once whatever the reasons."""
        self.failures.setdefault(op, why)
        print(f"FAILED {op}: {why}", file=sys.stderr, flush=True)

    @contextlib.contextmanager
    def op(self, name: str):
        """Count one attempted operation; ``current`` names it while it
        runs, so a failure that aborts a pass can be attributed."""
        self.attempted += 1
        self.current = name
        yield


def setup(run: Run, tables: tuple[str, ...] = ()):
    """The one setup of the process, timed as ``setup_s``: start the
    JVM and build the session, then cache the input tables."""
    from ex9_big_data_gal_drimer_spark.catalog import cache_tables
    from ex9_big_data_gal_drimer_spark.session import get_spark

    t0 = time.perf_counter()
    with run.tracer.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench",
            extra_conf={"spark.sql.warehouse.dir": str(run.warehouse)},
        )
    run.tracer.attach(spark)
    if tables:
        with run.tracer.span("catalog.cache_tables"):
            cache_tables(spark, str(DATA_DIR), tables)
    run.setup_s = time.perf_counter() - t0
    run.facts["driver_memory"] = spark.conf.get("spark.driver.memory")
    run.facts["default_parallelism"] = spark.sparkContext.defaultParallelism
    return spark


def _timed_pass(run: Run, one_pass, n: int) -> None:
    """Run ``one_pass(n)`` as a timed pass."""
    run.tracer.phase = "timed"
    t0 = time.perf_counter()
    try:
        with run.tracer.span("pass", f"pass{n}"):
            one_pass(n)
    finally:  # a pass that raised still reports its time
        run.pass_walls_s.append(time.perf_counter() - t0)


def _timed_passes(run: Run, one_pass, min_passes: int) -> None:
    """Repeat ``one_pass`` until ``run.seconds`` have been measured and
    at least ``min_passes`` passes have run."""
    n = 0
    while n < min_passes or sum(run.pass_walls_s) < run.seconds:
        _timed_pass(run, one_pass, n)
        n += 1


# --------------------------------------------------------------------------
# curation


def run_curation(run: Run):
    """One untimed warm-up pass over the mix, then timed passes.  Every
    pass's results are checked, so a memo that serves stale results
    when warm fails the check."""
    from ex9_big_data_gal_drimer_spark.catalog import release_query_caches
    from ex9_big_data_gal_drimer_spark.plans import QUERIES

    order = list(CURATION)
    random.Random(run.seed).shuffle(order)
    run.facts["order"] = order
    spark = setup(run, CURATION_TABLES)
    tracer = run.tracer
    results: list[tuple[str, str, object]] = []  # (attempt, query, result)

    def one_pass(n: int | str) -> None:
        for name in order:
            rid = f"{name}@{n}"
            run.attempted += 1
            try:
                with tracer.span("request", rid) as req:
                    with tracer.span("plans.construct", rid, job_group=True):
                        df = QUERIES[name](spark, str(DATA_DIR))
                    with tracer.span("fetch.arrow", rid, job_group=True) as fetch:
                        table = df.toArrow()
                    with tracer.span("fetch.pandas", rid):
                        table.to_pandas()
                if tracer.phase == "timed":
                    run.latencies_ms.append(req.ms)
                fetch.counters["rows"] = table.num_rows
                if tracer.enabled:
                    fetch.counters.update(catalyst_phases_ms(df))
                results.append((rid, name, table))
            except Exception:
                traceback.print_exc()
                run.fail(rid, "raised")
            with tracer.span("catalog.release_query_caches", rid) as rel:
                rel.counters["released"] = release_query_caches()

    tracer.phase = "warmup"
    one_pass("warmup")
    _timed_passes(run, one_pass, CURATION_PASSES)
    _check_curation(run, results)
    return spark


def _rows(table) -> list[tuple]:
    return list(zip(*(col.to_pylist() for col in table.columns)))


def _fingerprint(rows: list[tuple]) -> str:
    """Digest of rows (already in canonical order), floats to 6 digits."""

    def norm(v):
        if isinstance(v, float):
            return None if math.isnan(v) else float(f"{v:.6g}")
        return v

    text = json.dumps([[norm(v) for v in r] for r in rows], default=str)
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _check_curation(run: Run, results: list[tuple[str, str, object]]) -> None:
    import duckdb
    from ex9_big_data_gal_drimer_spark.plans import ORACLES
    from tools.preflight import compare_result, driver_canon

    expected = json.loads(EXPECTED.read_text())
    con = duckdb.connect()
    for name in CURATION_TABLES:
        path = DATA_DIR / f"{name}.parquet"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    fingerprints = {}
    oracle_results = {}  # query -> (columns, rows), one DuckDB run each
    for rid, name, table in results:
        cols, rows = list(table.column_names), _rows(table)
        try:
            if name in ORACLES:
                if name not in oracle_results:
                    cur = con.execute(ORACLES[name])
                    oracle_results[name] = (
                        [d[0] for d in cur.description],
                        cur.fetchall(),
                    )
                verdict, detail = compare_result(cols, rows, *oracle_results[name])
                ok = verdict == "ok"
            else:
                detail = _fingerprint(driver_canon(cols, rows))
                fingerprints.setdefault(name, detail)  # for the trace
                ok = detail == expected.get(name)
        except Exception as exc:  # driver_canon rejects unhashable cells
            ok, detail = False, repr(exc)
        if not ok:
            run.fail(rid, f"wrong result ({detail})")
    con.close()
    run.facts["fingerprints"] = fingerprints


# --------------------------------------------------------------------------
# hotels_etl


def hotels_csv(run: Run) -> Path:
    """The seeded hotels CSV, generated once per (seed, rows) into the
    input cache; only the newest ``CSV_CACHE_KEEP`` files are kept."""
    from ex9_big_data_gal_drimer_spark.sources.hotels_fixture import make_hotels_csv

    run.cache.mkdir(parents=True, exist_ok=True)
    path = run.cache / f"hotels-s{run.seed}-n{HOTEL_ROWS}.csv"
    if not path.exists():
        part = path.with_suffix(f".{os.getpid()}.part")
        make_hotels_csv(str(part), HOTEL_ROWS, run.seed)
        part.replace(path)
    path.touch()
    cached = sorted(run.cache.glob("hotels-*.csv"), key=lambda p: p.stat().st_mtime)
    for old in cached[:-CSV_CACHE_KEEP]:
        old.unlink(missing_ok=True)
    return path


def run_hotels_etl(run: Run):
    from app.dashboard import render_static
    from ex9_big_data_gal_drimer_spark.pipeline import (
        export_samples_to_sqlite,
        generate_documentation,
        materialize_query,
    )
    from ex9_big_data_gal_drimer_spark.plans.hotels import HOTEL_QUERIES
    from ex9_big_data_gal_drimer_spark.sources.csv import ingest_csv_to_parquet
    from ex9_big_data_gal_drimer_spark.viz import create_bar_chart, create_pie_chart

    csv_path = hotels_csv(run)
    spark = setup(run)
    tracer = run.tracer

    def one_pass(n: int) -> None:
        out = run.warehouse
        with run.op("ingest"), tracer.span(
            "sources.ingest_csv_to_parquet", job_group=True
        ):
            hotels = ingest_csv_to_parquet(
                spark, str(csv_path), str(out / "hotels_parquet")
            )
        for name, plan in HOTEL_QUERIES.items():
            rid = f"{name}@{n}"
            with run.op(name), tracer.span("request", rid) as req:
                with tracer.span("plans.construct", rid, job_group=True):
                    df = plan(hotels)
                with tracer.span("pipeline.materialize_query", rid, job_group=True):
                    materialize_query(spark, name, df)
            run.latencies_ms.append(req.ms)
        db_path = out / "serve.db"
        with run.op("export"), tracer.span(
            "pipeline.export_samples_to_sqlite", job_group=True
        ):
            export_samples_to_sqlite(spark, str(db_path))
        with run.op("docs"), tracer.span(
            "pipeline.generate_documentation", job_group=True
        ):
            generate_documentation(spark, str(out / "database_info.md"))
        for name, (kind, label, value, title) in HOTEL_CHARTS.items():
            draw = create_pie_chart if kind == "pie" else create_bar_chart
            with run.op(f"chart:{name}"), tracer.span("viz.chart", name, job_group=True):
                pdf = spark.table(f"{name}_sample").toPandas()
                draw(pdf, label, value, title, str(out / "static" / f"{name}.png"))
        with run.op("dashboard"), tracer.span("app.dashboard.render_static"):
            render_static(str(db_path), str(out / "dashboard.html"))

    try:  # one cold pass, as the CLI runs it, however long it takes
        _timed_pass(run, one_pass, 0)
    except Exception:  # the pipeline stops at its first failure, like the CLI
        traceback.print_exc()
        run.fail(run.current, "raised")
        return spark
    _check_hotels(run, spark, csv_path)
    return spark


def _check_hotels(run: Run, spark, csv_path: Path) -> None:
    import duckdb
    from ex9_big_data_gal_drimer_spark.plans.hotels import HOTEL_QUERIES
    from ex9_big_data_gal_drimer_spark.plans.queries_hotels import build_hotel_oracles
    from ex9_big_data_gal_drimer_spark.sources.hotels_fixture import duckdb_read_csv
    from tools.preflight import compare_result

    # The CSV is generated, so it is well formed: load it once, strictly.
    # DuckDB 1.0's read_csv(ignore_errors=true) returns NULL for valid
    # fields of some multi-line rows (seed 1 at 100k rows: one
    # HotelRating), which would fail a correct result.
    source = duckdb_read_csv(csv_path)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE hotels_csv AS SELECT * FROM "
        + source.replace("ignore_errors=true", "ignore_errors=false")
    )
    oracles = {
        name: sql.replace(source, "hotels_csv")
        for name, sql in build_hotel_oracles(csv_path).items()
    }
    for name in HOTEL_QUERIES:
        try:
            result = spark.table(f"{name}_results")
            cur = con.execute(oracles[name])
            verdict, detail = compare_result(
                result.columns,
                [tuple(r) for r in result.collect()],
                [d[0] for d in cur.description],
                cur.fetchall(),
            )
            n_sample = spark.table(f"{name}_sample").count()
        except Exception as exc:
            verdict, detail, n_sample = "raised", repr(exc), 0
        if verdict != "ok":
            run.fail(name, f"wrong result ({detail})")
        if n_sample > SAMPLE_LIMIT:
            run.fail(name, f"sample has {n_sample} rows")
    con.close()
    with sqlite3.connect(run.warehouse / "serve.db") as db:
        n_tables = db.execute(
            "SELECT count(*) FROM sqlite_master WHERE type='table'"
        ).fetchone()[0]
    if n_tables != len(HOTEL_QUERIES):
        run.fail("export", f"serve.db holds {n_tables} tables, not {len(HOTEL_QUERIES)}")


WORKLOADS = {"curation": run_curation, "hotels_etl": run_hotels_etl}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
