#!/usr/bin/env python3
"""Bench-vs-baseline audit: the 2x regression contract, with NO silent gaps.

Reads the per-query rows out of BASELINE.md and a bench artifact
(BENCH_RESULTS.json / BENCH_r*.json), then FAILS (exit 1) on:
  - a benched query with no baseline row  (row-less queries used to pass
    silently — they are outside the regression contract and must be flagged
    until a row is recorded);
  - a benched query over 2x its row;
  - a query that recorded -1 (all bench runs errored);
  - a baseline row whose query no longer exists in the artifact.

A probe artifact (`SPARK_GRAFT_BENCH_ONLY` set) carries its selection as
"only": [...]; its audit reports GONE only for the baseline rows inside that
selection. An artifact without "only" is a full run: every row is audited.

Usage: python3 scripts/check_bench.py [bench_json] [baseline_md]
       (defaults: BENCH_RESULTS.json, BASELINE.md — the committed artifacts,
       so a bare run audits the repo as-is)
"""
import json
import re
import sys


def baseline_rows(path: str) -> dict:
    rows = {}
    for line in open(path):
        m = re.match(r"\|\s*(q_\w+)\s*\|\s*([0-9.]+)\s*\|", line)
        if m:
            rows[m.group(1)] = float(m.group(2))
    return rows


def main(bench_path: str = "BENCH_RESULTS.json",
         baseline_path: str = "BASELINE.md") -> int:
    print(f"auditing {bench_path} vs {baseline_path}")
    bench = json.load(open(bench_path))
    if "queries" not in bench:
        # driver wrapper (BENCH_r*.json): the Bench JSON line is in "tail",
        # possibly truncated — prefer its "parsed" copy when present
        if isinstance(bench.get("parsed"), dict):
            bench = bench["parsed"]
        else:
            m = re.search(r'\{"metric".*', bench.get("tail", ""))
            if not m:
                print(f"ERROR  {bench_path}: no bench JSON found "
                      f"(use BENCH_RESULTS.json)")
                return 1
            bench = json.loads(m.group(0))
    queries = bench["queries"]
    rows = baseline_rows(baseline_path)
    expected = set(rows)
    if "only" in bench:
        expected &= set(bench["only"])
        print(f"probe of {len(bench['only'])} selected queries: "
              f"baseline rows outside the selection are not audited")
    bad = 0
    for name, secs in sorted(queries.items()):
        if secs < 0:
            print(f"ERROR  {name}: all bench runs errored (recorded -1)")
            bad += 1
        elif name not in rows:
            print(f"NOROW  {name}: {secs:.2f}s benched but NO baseline row "
                  f"- outside the 2x contract, record a row")
            bad += 1
        elif secs > 2 * rows[name]:
            print(f"SLOW   {name}: {secs:.2f}s > 2x row {rows[name]:.2f}s")
            bad += 1
    for name in sorted(expected - set(queries)):
        print(f"GONE   {name}: baseline row exists but query not benched")
        bad += 1
    n = len(queries)
    print(f"{n - bad if bad < n else 0}/{n} within contract, "
          f"{len(rows)} rows, {bad} violations")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
