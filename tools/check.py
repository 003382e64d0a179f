#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB-oracle compare (t2 gate).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [q1,q2,...]

The optional third arg restricts the compare to those queries — one
fresh process per heavy query keeps DuckDB's buffer pool from
accumulating across the whole 200+-query sweep at large SFs.

Reads each <verifyOutDir>/<name>/ parquet result written by graft.Verify,
runs the matching SQL from oracle_sql.json in DuckDB against the raw
testdata parquet in <sfDir>, sorts columns by name and rows by all columns,
and compares cell values exactly (floats: exact bits after float64 cast).
This is deliberately at-least-as-strict as the driver's hash compare.
Every query carries an oracle, so a result dir with no oracle entry
FAILs (NO-ORACLE); without a query filter, an oracle key with no result
dir FAILs too (MISSING).
"""
import json
import math
import sys
from pathlib import Path

import duckdb
import pyarrow.dataset as ds

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return repr(v)


def table_of(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in idx) for r in rows]
    out.sort()
    return [cols[i] for i in idx], out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.is_dir():  # Spark-written table dir (GateData's sf1 layout)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    n_pass = n_fail = 0
    if only is None:
        # an oracle key with no result dir is a query Verify never wrote
        written = {d.name for d in Path(out_dir).iterdir() if d.is_dir()}
        for name in sorted(set(oracle) - written):
            print(f"  {name}: MISSING")
            n_fail += 1
    for d in sorted(Path(out_dir).iterdir()):
        if not d.is_dir():
            continue
        name = d.name
        if only is not None and name not in only:
            continue
        err = d / "_GRAFT_ERROR.txt"
        if err.exists():
            # Verify's no-silent-absence sentinel: the query failed at run
            # time; surface a red row instead of omitting it (round-8 bug).
            print(f"  {name}: QUERY-ERROR {err.read_text().strip()}")
            n_fail += 1
            continue
        spark_tbl = ds.dataset(str(d)).to_table()
        s_cols = spark_tbl.column_names
        s_rows = [tuple(r[c] for c in s_cols) for r in spark_tbl.to_pylist()]
        if name not in oracle:
            # every registered query carries an oracle by type
            print(f"  {name}: NO-ORACLE rows={len(s_rows)}")
            n_fail += 1
            continue
        try:
            res = con.execute(oracle[name])
            o_cols = [c[0] for c in res.description]
            o_rows = res.fetchall()
        except Exception as e:
            print(f"  {name}: ORACLE-SQL-ERROR {e}")
            n_fail += 1
            continue
        sc, st = table_of(s_rows, s_cols)
        oc, ot = table_of(o_rows, o_cols)
        if sc != oc:
            print(f"  {name}: SCHEMA-MISMATCH spark={sc} oracle={oc}")
            n_fail += 1
            continue
        if len(st) != len(ot):
            print(f"  {name}: ROWCOUNT-MISMATCH spark={len(st)} oracle={len(ot)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(st, ot)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"  {name}: VALUE-MISMATCH {len(bad)}/{len(st)} rows; first@{i}:")
            print(f"    cols : {sc}")
            print(f"    spark: {a}")
            print(f"    duck : {b}")
            n_fail += 1
        else:
            print(f"  {name}: PASS rows={len(st)}")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
