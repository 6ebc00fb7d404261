#!/usr/bin/env python3
"""Validates perfbench/expected_queries.tsv against the DuckDB oracle.

Runs the query mix once (run.py --record-queries), compares every result to
its `oracleSql` in DuckDB with the repository's own oracle compare
(scripts/check_oracle.py, imported unchanged), and checks that the digests
the run printed equal the committed ones. A digest is only trusted once the
result it was taken from matched the oracle.

Usage: python3 perfbench/oracle_check.py [--dump DIR]
       (--dump reuses the result dump of an earlier --record-queries run
        whose printed lines were saved to DIR/digests.tsv)
"""
import argparse
import importlib.util
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.01"


def load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "scripts" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def read_tsv(text: str) -> dict:
    rows = {}
    for line in text.splitlines():
        line = line.strip()
        if line and not line.startswith("#"):
            q, n, d = line.split("\t")
            rows[q] = (int(n), d)
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dump")
    a = ap.parse_args()
    dump = Path(a.dump) if a.dump else Path(tempfile.mkdtemp(prefix="oracle-", dir=BENCH / ".work"))
    digests = dump / "digests.tsv"
    if not a.dump:
        out = subprocess.run([sys.executable, str(BENCH / "run.py"), "--record-queries", str(dump)],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            print("record run failed", file=sys.stderr)
            return 1
        digests.write_text(out.stdout)
    bad = load_check_oracle().main(str(dump), str(DATA))
    got = read_tsv(digests.read_text())
    want = read_tsv((BENCH / "expected_queries.tsv").read_text())
    for q in sorted(set(got) | set(want)):
        if got.get(q) != want.get(q):
            print(f"FAIL {q}: recorded {got.get(q)} != committed {want.get(q)}")
            bad = 1
    print("digests " + ("differ" if bad else f"match for {len(want)} queries"))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
