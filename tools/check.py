#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables, compare with the Verify parquet dumps
(sorted columns by name, row-wise value compare). Usage:
    python3 tools/check.py <sfDir> <verifyOutDir> [queryName...]
"""
import sys, glob, os, math
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

import json
with open(os.path.join(outdir, "oracle_sql.json")) as f:
    oracles = json.load(f)

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "nan"
        return repr(v)
    return str(v)

fails = 0
# a requested name with no oracle (a typo) must fail, not check nothing
for name in sorted(only - oracles.keys()):
    print(f"FAIL {name}: not in oracle_sql.json"); fails += 1
for name, sql in sorted(oracles.items()):
    if only and name not in only: continue
    resdir = os.path.join(outdir, name)
    if not os.path.isdir(resdir):
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    try:
        oracle = con.execute(sql).fetch_arrow_table()
    except Exception as e:
        print(f"FAIL {name}: oracle error {e}"); fails += 1; continue
    spark = con.execute(
        f"SELECT * FROM read_parquet('{resdir}/*.parquet')").fetch_arrow_table()
    ocols, scols = sorted(oracle.column_names), sorted(spark.column_names)
    if ocols != scols:
        print(f"FAIL {name}: cols oracle={ocols} spark={scols}"); fails += 1; continue
    # The driver's hash distinguishes value TYPES: DuckDB sum(BIGINT) returns
    # HUGEINT (→ decimal128/Decimal), which never hash-matches Spark's int64
    # even when values are numerically equal. Flag any type-kind mismatch.
    def kind(t):
        t = str(t)
        if 'decimal' in t: return 'decimal'
        if t.startswith(('int', 'uint')): return 'int'
        if t in ('float', 'double', 'halffloat'): return 'float'
        return t
    tybad = [(c, str(oracle.schema.field(c).type), str(spark.schema.field(c).type))
             for c in ocols
             if kind(oracle.schema.field(c).type) != kind(spark.schema.field(c).type)]
    if tybad:
        print(f"FAIL {name}: type-kind mismatch {tybad}"); fails += 1; continue
    od = oracle.select(ocols).to_pylist()
    sd = spark.select(scols).to_pylist()
    if len(od) != len(sd):
        print(f"FAIL {name}: rows oracle={len(od)} spark={len(sd)}"); fails += 1; continue
    bad = None
    for i, (o, s) in enumerate(zip(od, sd)):
        for c in ocols:
            if norm(o[c]) != norm(s[c]):
                bad = (i, c, o[c], s[c]); break
        if bad: break
    if bad:
        i, c, ov, sv = bad
        print(f"FAIL {name}: row {i} col {c}: oracle={ov!r} spark={sv!r}")
        fails += 1
    else:
        print(f"PASS {name} ({len(od)} rows)")
sys.exit(1 if fails else 0)
