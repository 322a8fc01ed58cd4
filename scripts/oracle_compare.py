#!/usr/bin/env python3
"""Replicate the external driver's DuckDB oracle compare over a Verify dump,
WITH the type-parity layer the round-5 gate was missing: the driver hashes
typed values, so a value-equal column of the wrong dtype (e.g. DuckDB
HUGEINT -> float64 vs Spark BIGINT -> int64) still fails its gate. The
pandas `.astype` compare alone masks exactly that class — q_cms and
q_histogram shipped red in round 5 because of it (VERDICT r5 "What's
wrong" #1-2). This script fails on either value drift OR dtype drift.

Usage: python3 scripts/oracle_compare.py <sfdir> <verify_out_dir> [entries]

`entries` is an optional comma-separated entry list, the same third
argument graft.Verify takes: only those entries are compared, so a dump of
a few entries can be checked without the full set.
"""
import sys

import duckdb
import json
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

con = duckdb.connect()
for t in ["documents", "lineitem", "orders", "embeddings", "events"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

value_bad, type_bad = [], []
oracle = json.load(open(f"{out}/oracle_sql.json"))
names = sorted((n, q) for n, q in oracle.items() if only is None or n in only)
for name in sorted((only or set()) - oracle.keys()):
    print(f"  {name}: not an entry of oracle_sql.json")
    value_bad.append(name)
for name, sql in names:
    # a genuinely broken entry (e.g. uncastable dtype combos) must be
    # REPORTED as value-bad, not crash the loop and hide later entries
    try:
        s = pd.read_parquet(f"{out}/{name}")
        d = con.sql(sql).df()
        s = s[sorted(s.columns)].sort_values(sorted(s.columns)).reset_index(drop=True)
        d = d[sorted(d.columns)].sort_values(sorted(d.columns)).reset_index(drop=True)
        ok = (
            len(s) == len(d)
            and list(s.columns) == list(d.columns)
            and s.equals(d.astype(s.dtypes.to_dict()))
        )
    except Exception as e:  # noqa: BLE001 — any failure is a red entry
        print(f"  {name}: compare raised {type(e).__name__}: {e}")
        value_bad.append(name)
        continue
    if not ok:
        value_bad.append(name)
    elif list(s.dtypes) != list(d.dtypes):
        type_bad.append(
            (name, {c: (str(s.dtypes[c]), str(d.dtypes[c]))
                    for c in s.columns if s.dtypes[c] != d.dtypes[c]})
        )
print(f"entries: {len(names)}  value-bad: {value_bad}  type-bad: {type_bad}")
if value_bad or type_bad:
    sys.exit(1)
print("ALL GREEN (values and dtypes)")
