#!/usr/bin/env python3
"""Check the recorded fingerprints against the DuckDB oracles.

    python3 perfbench/oracle_check.py

For every headline query with a DuckDB oracle, the engine writes its
output over perfbench/data/sf0.01 as parquet and fingerprints what it
wrote (the same fold the benchmark uses). This script then
  1. compares each output with its oracle's result in DuckDB, normalized
     like the repository's oracle gate (columns sorted by name, rows
     sorted, exact values and dtypes), and
  2. compares each fingerprint with perfbench/expected/sf0.01.json.
Both passing means the expected fingerprint is that of an output the
oracle agrees with. Exits 1 on any failure.
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402  (the benchmark's build and JVM launcher)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(con, sql, files):
    got = norm(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
    exp = norm(con.execute(sql).fetchdf())
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    dt = [(c, str(got[c].dtype), str(exp[c].dtype))
          for c in got.columns if str(got[c].dtype) != str(exp[c].dtype)]
    if dt:
        return f"dtype mismatch {dt}"
    for c in got.columns:
        a, b = got[c], exp[c]
        try:
            eq = (a == b) | (a.isna() & b.isna())
        except (TypeError, ValueError):
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"col={c} row={i} got={a.iloc[i]!r} exp={b.iloc[i]!r}"
    return None


def main():
    run.build()
    out = run.OUT / "oracle"
    rc = subprocess.run(run.java_cmd(["--mode", "dump", "--data", str(run.DATA),
                                      "--out", str(out)]),
                        stdout=subprocess.DEVNULL).returncode
    if rc != 0:
        sys.exit(f"dump failed (exit {rc})")
    oracles = json.loads((out / "oracle_sql.json").read_text())
    fps = json.loads((out / "fingerprints.json").read_text())
    expected = json.loads(run.EXPECTED.read_text())

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA / t}.parquet')")
    failures = 0
    for name, sql in sorted(oracles.items()):
        files = sorted(str(p) for p in (out / name).glob("*.parquet"))
        problem = compare(con, sql, files) if files else "no output"
        if problem is None and fps.get(name) != expected.get(name):
            problem = f"fingerprint {fps.get(name)} != expected {expected.get(name)}"
        print(f"{'FAIL' if problem else 'PASS'} {name}" + (f": {problem}" if problem else ""))
        failures += problem is not None
    print(f"== {len(oracles) - failures} pass, {failures} fail "
          f"({len(expected) - len(oracles)} benched queries have no oracle) ==")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
