#!/usr/bin/env python
"""Pre-flight the driver correctness gate before the driver runs it.

Simulates the gate exactly: a VANILLA SparkSession (no engine confs —
queries must self-configure via session.configure), the FIRST 50
registered queries at sf0.01, each compared against its DuckDB oracle
with driver semantics (column-name-sorted tuples, sorted rows,
None-safe ordering, tight float tolerance).  Rows-only queries are
executed and reported with their row counts.  Query names in place of
the window spot-check just those queries.

Usage: python tools/preflight.py [sf_dir] [n_window [out_json] | name ...]
Exit code 0 = every oracle query checked matches.

Vintage gate (round-6 verdict ask #7):

    python tools/preflight.py --check-vintage [max_age_rounds]

scans the committed CORRECTNESS_r*.json banks and fails if any
registered oracle query either (a) has NO hash-green driver row in any
bank AND is not seated in the current 50-slot window (it could never
earn one), or (b) has a newest green row STRICTLY older than ``max_age_rounds``
rounds (default 4) AND is not seated for re-verification — i.e. an
age-4 row is still legal but must appear in the current window.  This is the
registry-growth discipline: at 50 window slots per round, keeping the
whole registry within a 4-round re-verification cycle caps net new
oracle queries at roughly (50 - rotation backlog) per round.
"""

from __future__ import annotations

import math
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, ".")
from ex9_big_data_gal_drimer_spark.catalog import TABLES  # noqa: E402


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, str(v)) for v in row)


def driver_canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Replicate the DRIVER's pandas-based canonicalization of a result
    set: column-name-sorted projection whose row-sort path hashes every
    cell (pandas Categorical/factorize).  ARRAY/MAP/STRUCT cells arrive
    from Spark as Python list/dict/Row values and raise
    ``TypeError: unhashable type`` here — exactly the round-3 driver
    crash that the old ``str(v)`` sort keys could never reproduce.
    Every preflight comparison now flows through this function, so an
    array-returning query goes red locally before it reaches the gate.
    """
    import pandas as pd

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    pdf = pd.DataFrame(
        [tuple(r[i] for i in order) for r in rows],
        columns=[cols[i] for i in order],
    )
    for c in pdf.columns:
        # the hash step: factorize == the driver's Categorical path;
        # intolerant of unhashable (non-atomic) cells by design
        pd.factorize(pdf[c])
    out = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    return sorted(out, key=_sort_key)


def compare_result(
    scols: list[str],
    srows: list[tuple],
    ocols: list[str],
    orows: list[tuple],
) -> tuple[str, str]:
    """Driver-style comparison of a Spark result against its oracle.

    Returns (verdict, detail): verdict is one of 'schema', 'rows',
    'values', 'ok'.  Single source of truth for the gate semantics —
    used by the preflight AND the benchmark's result checks so a canon
    change can never silently diverge between them.
    """
    if sorted(scols) != sorted(ocols):
        return "schema", f"schema {sorted(scols)} vs {sorted(ocols)}"
    s = driver_canon(list(scols), srows)
    o = driver_canon(list(ocols), [tuple(r) for r in orows])
    if len(s) != len(o):
        return "rows", f"rows {len(s)} vs {len(o)}"
    bad = [
        (x, y)
        for x, y in zip(s, o)
        if not all(_values_equal(a, b) for a, b in zip(x, y))
    ]
    if bad:
        return "values", f"{len(bad)} mismatched rows; e.g. {bad[0]}"
    return "ok", f"{len(s)} rows"


def _values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) or math.isnan(fb):
            # pandas canon turns NULL into NaN in float columns (both
            # sides flow through the same canon, so NaN ≡ NULL here)
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def vintage_verdict(
    oracles: list[str],
    window: set[str],
    newest_green: dict[str, int],
    latest: int,
    max_age: int,
) -> tuple[list[str], list[tuple[str, int]]]:
    """Pure core of the vintage gate (unit-tested): returns
    (unbanked, stale) oracle names.  A query seated in the current
    window is always exempt — it earns/refreshes its row this round.
    Staleness is STRICTLY older than ``max_age`` (an age-``max_age``
    row is the oldest the rotation plan allows, provided the NEXT
    window seats it — which this gate checks on the next round)."""
    unbanked, stale = [], []
    for name in oracles:
        if name in window:
            continue
        got = newest_green.get(name)
        if got is None:
            unbanked.append(name)
        elif latest - got > max_age:
            stale.append((name, got))
    return unbanked, stale


def check_vintage(max_age: int = 4) -> int:
    """Fail if any registered oracle query is unbanked (and unseated)
    or its newest hash-green driver row is older than ``max_age``
    rounds relative to the newest bank present.  Pure file scan — no
    Spark session."""
    import glob
    import json
    import re

    import __spark_entry__ as entry_mod

    oracles = entry_mod.oracle_sql()
    window = set(list(entry_mod.queries())[:50])
    newest_green: dict[str, int] = {}
    rounds = []
    for path in glob.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path)
        if not m:
            continue
        rnd = int(m.group(1))
        rounds.append(rnd)
        for name, row in json.load(open(path)).items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                newest_green[name] = max(newest_green.get(name, 0), rnd)
    if not rounds:
        print("no CORRECTNESS_r*.json banks found — nothing to gate")
        return 0
    latest = max(rounds)
    unbanked, stale = vintage_verdict(
        list(oracles), window, newest_green, latest, max_age
    )
    print(
        f"vintage gate: {len(oracles)} oracle queries, newest bank r{latest:02d}, "
        f"window covers {len(window & set(oracles))}"
    )
    for name in unbanked:
        print(f"  UNBANKED (and not seated): {name}")
    for name, got in sorted(stale, key=lambda x: x[1]):
        print(f"  STALE (r{got:02d}, age {latest - got} > {max_age}): {name}")
    if unbanked or stale:
        print(f"\n{len(unbanked)} unbanked + {len(stale)} stale — reseat or trim")
        return 1
    print("all oracle queries banked within the re-verification horizon")
    return 0


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--check-vintage":
        return check_vintage(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rest = sys.argv[2:]
    named = bool(rest) and not rest[0].isdigit()
    out_json = rest[1] if not named and len(rest) > 1 else None
    report: dict[str, dict] = {}

    spark = SparkSession.builder.master("local[8]").appName("preflight").getOrCreate()
    import __spark_entry__ as entry_mod

    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    fails = []
    names = rest if named else list(queries)[: int(rest[0]) if rest else 50]
    for name in names:
        # "status" disambiguates the dual-use err field (the driver's
        # format reuses err='no_oracle' for by-design rows-only
        # entries): ok | rows_only | fail
        row = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
            "status": "fail",
        }
        report[name] = row
        if name not in queries:
            fails.append((name, "not registered"))
            continue
        try:
            sdf = queries[name](spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            row["spark_rows"] = len(srows)
            if name not in oracles:
                # rows-only entries still pass through the driver canon
                # (the gate canonicalizes every executed result), so an
                # ARRAY-returning rows-only query must go red here too
                driver_canon(list(sdf.columns), srows)
                row["err"] = "no_oracle"
                row["status"] = "rows_only"
                print(f"  rows-only {name}: {len(srows)} rows")
                continue
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            row["oracle_rows"] = len(orows)
            verdict, detail = compare_result(
                list(sdf.columns), srows, ocols, orows
            )
            row["schema_match"] = verdict != "schema"
            if verdict != "schema":
                row["rows_match"] = verdict != "rows"
            if verdict not in ("schema", "rows"):
                row["hash_match"] = verdict == "ok"
            if verdict == "ok":
                row["status"] = "ok"
                print(f"  ok        {name}: {detail}")
            else:
                fails.append((name, detail))
        except Exception as ex:  # noqa: BLE001 — report, don't abort the sweep
            row["err"] = str(ex)[:200]
            fails.append((name, f"error {str(ex)[:200]}"))

    spark.stop()
    if out_json:
        import json

        with open(out_json, "w") as fh:
            json.dump(report, fh, indent=1)
        print(f"wrote {out_json} ({len(report)} queries)")
    print(f"\n{len(fails)} failures")
    for name, why in fails:
        print(f"  FAIL {name}: {why}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
