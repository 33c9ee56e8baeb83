"""Post-close artifact summary: the headline numbers BASELINE.md /
PLANS.md / README.md quote, computed straight from the committed
JSONs, plus consistency checks that every artifact describes the SAME
registry (the round-5 failure mode: bench at 196 queries while the
DuckDB baseline still covered 155 oracles).

Usage:  python tools/summarize_artifacts.py [round_tag]
        (round_tag defaults to the highest BENCH_FULL_r*.json)

Exit code 1 if any consistency check fails — wire it at the end of
close_round.sh so a partial regeneration can't be committed quietly.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def shuffle_summary(records: dict[str, dict]) -> dict:
    """Suite shuffle total, spilling queries and top-10 shufflers from a
    bench run's per-query records (executed-plan metrics)."""
    worst = sorted(records.items(), key=lambda kv: -kv[1]["shuffle_bytes"])[:10]
    return {
        "total_shuffle_mb": round(
            sum(r["shuffle_bytes"] for r in records.values()) / 1e6, 2
        ),
        "queries_with_spill": [q for q, r in records.items() if r["spill_bytes"]],
        "top_shufflers": [
            (q, round(r["shuffle_bytes"] / 1e6, 3), r["shuffle_records"])
            for q, r in worst
        ],
    }


def main() -> int:
    benches = sorted(glob.glob("BENCH_FULL_r*.json"))
    if not benches:
        print("no BENCH_FULL_r*.json found")
        return 1
    tag = sys.argv[1] if len(sys.argv) > 1 else re.search(
        r"(r\d+)", benches[-1]
    ).group(1)

    bench_full = load(f"BENCH_FULL_{tag}.json")
    bench, records = bench_full["queries"], bench_full.get("records", {})
    duck = load("DUCKDB_SF01.json")
    dq = duck.get("queries", duck)
    local = load(f"CORRECTNESS_LOCAL_{tag}.json")
    lrows = list(local.values()) if isinstance(local, dict) else local

    try:
        import __spark_entry__ as entry

        n_q, n_o = len(entry.queries()), len(entry.oracle_sql())
    except Exception as exc:  # registry import should never fail post-close
        print(f"registry import failed: {exc}")
        return 1

    ok = True

    def check(cond: bool, msg: str) -> None:
        nonlocal ok
        print(("  ok  " if cond else "  FAIL") + f"  {msg}")
        ok = ok and cond

    print(f"== registry: {n_q} queries / {n_o} oracles ==")
    check(len(bench) == n_q, f"bench covers registry ({len(bench)}/{n_q})")
    check(len(dq) == n_o, f"DuckDB baseline covers oracles ({len(dq)}/{n_o})")
    check(
        len(records) == n_q,
        f"sf0.1 shuffle records cover registry ({len(records)}/{n_q})",
    )
    shuffle = shuffle_summary(records)
    try:
        records1 = load("SCALING_sf1.json").get("records", {})
        check(
            len(records1) == n_q,
            f"sf1 shuffle records cover registry ({len(records1)}/{n_q})",
        )
        check(not shuffle_summary(records1)["queries_with_spill"], "zero spills at sf1")
    except FileNotFoundError:
        check(False, "SCALING_sf1.json missing")
    check(
        len(lrows) == n_q,
        f"local preflight covers registry ({len(lrows)}/{n_q})",
    )
    bad = [
        r
        for r in lrows
        if isinstance(r, dict)
        and not (r.get("rows_match") and r.get("schema_match") and r.get("hash_match"))
        and r.get("err") != "no_oracle"
    ]
    check(not bad, f"local preflight green ({len(lrows) - len(bad)}/{len(lrows)})")
    check(not shuffle["queries_with_spill"], "zero spills")

    for f, label in (
        ("SCALING_sf0_001.json", "scaling sf0.001"),
        ("SCALING_sf0_01.json", "scaling sf0.01"),
        ("SCALING_sf1.json", "scaling sf1"),
    ):
        try:
            q = load(f)["queries"]
            check(len(q) == n_q, f"{label} covers registry ({len(q)}/{n_q})")
            print(f"        {label}: {sum(q.values()):.1f} s")
        except FileNotFoundError:
            check(False, f"{label} missing")

    common = set(dq) & set(bench)
    ds, ss = sum(dq[q] for q in common), sum(bench[q] for q in common)
    print(
        f"== headline: spark {ss:.1f} s vs duckdb {ds:.1f} s over "
        f"{len(common)} oracle-common queries -> ratio {ss / ds:.3f} =="
    )
    print(f"   bench total {sum(bench.values()):.1f} s / {len(bench)} queries; "
          f"shuffle {shuffle['total_shuffle_mb']} MB")
    for q, mb, n_records in shuffle["top_shufflers"]:
        print(f"     {q}: {mb} MB, {n_records} records")

    # drift vs the PREVIOUS round's bench (never vs this file itself)
    prev = [b for b in benches if tag not in b]
    if prev:
        pq = load(prev[-1])["queries"]
        shared = [q for q in set(bench) & set(pq) if pq[q] > 0.02]
        med = statistics.median(sorted(bench[q] / pq[q] for q in shared))
        verdict = "clean" if med <= 1.1 else "CONTENTION? rerun bench"
        print(
            f"   drift vs {prev[-1]}: shared-{len(shared)} median ratio "
            f"{med:.3f} ({verdict})"
        )

    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
