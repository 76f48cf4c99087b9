#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only; the
shipped library is pure Scala/Spark).

Usage: python3 scripts/oracle_check.py <sf_dir> <verify_out_dir>

Reads each <verify_out_dir>/<name> parquet produced by graft.Verify,
runs the matching oracle SQL from oracle_sql.json in DuckDB over the
source parquet tables, and compares: row count, column names (sorted),
and a hash of the sorted value matrix. A query output directory with
no oracle_sql.json entry fails too: it would otherwise never be
compared.
"""
import datetime
import json
import math
import os
import sys

import duckdb
import pandas
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Output columns may only use types every reader canonicalizes the same
# way. DECIMAL is banned: the driver reads Spark parquet natively
# (pyarrow -> exact decimal.Decimal) while DuckDB's .df() collapses the
# oracle's DECIMAL(38,0) to float64, so >2^53 values can never match
# (b8/b9, round 5). graft.Verify enforces the same whitelist in-JVM.
ALLOWED_PA_TYPES = ("string", "large_string", "int32", "int64", "double",
                    "float", "bool", "date32[day]")

# Same whitelist on the oracle side, in DuckDB's type names (checked
# via DESCRIBE before the query runs): a DECIMAL/HUGEINT oracle column
# would collapse to float64 in .df() and silently "match" a lossy
# Spark column — catch it before the driver does.
ALLOWED_DUCK_TYPES = ("VARCHAR", "BIGINT", "INTEGER", "SMALLINT",
                      "TINYINT", "DOUBLE", "FLOAT", "BOOLEAN", "DATE")


def canon(v):
    if v is None or v is pandas.NaT:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # %.17g round-trips doubles uniquely: the driver's gate is
        # bit-exact, and %.9g once green-lit a 1-ulp miss (b8, r4)
        # that the driver then rejected.
        return f"{v:.17g}"
    if isinstance(v, datetime.datetime):
        # outputs never carry timestamps (epoch-ms convention), so any
        # datetime here is a DATE that one reader widened to midnight.
        return v.strftime("%Y-%m-%d")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_fingerprint(df):
    # pandas DataFrame -> order-insensitive fingerprint
    cols = sorted(df.columns)
    rows = ["|".join(canon(v) for v in rec)
            for rec in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    import hashlib
    return cols, len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(os.listdir(out_dir)):
        if os.path.isdir(f"{out_dir}/{name}") and name not in oracle:
            print(f"FAIL {name}: output written but no oracle_sql.json entry")
            n_fail += 1
    for name, sql in sorted(oracle.items()):
        try:
            # Driver-faithful: the Spark side is read NATIVELY with
            # pyarrow (decimals stay exact decimal.Decimal), the oracle
            # side through DuckDB's .df() (decimals collapse to
            # float64). Rounds 4 and 5 both had this gate green-light
            # what the driver rejected because it read the Spark
            # parquet back THROUGH DuckDB, applying the same lossy
            # conversion to both sides.
            got_tbl = pq.read_table(f"{out_dir}/{name}")
            bad = [f"{f.name}:{f.type}" for f in got_tbl.schema
                   if str(f.type) not in ALLOWED_PA_TYPES]
            if bad:
                print(f"FAIL {name}: banned output column type(s) {bad} "
                      f"(allowed: {ALLOWED_PA_TYPES})")
                n_fail += 1
                continue
            got = got_tbl.to_pandas(date_as_object=False)
            desc = con.sql(f"DESCRIBE ({sql})").fetchall()
            bad_o = [f"{r[0]}:{r[1]}" for r in desc
                     if r[1] not in ALLOWED_DUCK_TYPES]
            if bad_o:
                print(f"FAIL {name}: banned ORACLE column type(s) {bad_o} "
                      f"(allowed: {ALLOWED_DUCK_TYPES})")
                n_fail += 1
                continue
            want = con.sql(sql).df()
            gc, gn, gh = table_fingerprint(got)
            wc, wn, wh = table_fingerprint(want)
            if gc != wc:
                print(f"FAIL {name}: columns {gc} != {wc}")
                n_fail += 1
            elif gn != wn:
                print(f"FAIL {name}: rows {gn} != {wn}")
                n_fail += 1
            elif gh != wh:
                print(f"FAIL {name}: hash mismatch ({gn} rows)")
                # show a diff sample
                merged = got.merge(want, how="outer", indicator=True,
                                   on=None)
                print(merged[merged._merge != "both"].head(6))
                n_fail += 1
            else:
                print(f"PASS {name} ({gn} rows)")
                n_pass += 1
        except Exception as e:
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
