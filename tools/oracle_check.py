#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: oracle_check.py <verify_out_dir> <sf_dir>

Reads each <verify_out_dir>/<name>/ (Spark parquet result) and the dumped
oracle_sql.json, runs each oracle against the sf_dir parquet tables in
DuckDB, and compares THE WAY THE DRIVER DOES: both sides as pandas
frames, columns sorted by name, rows sorted by all columns, then dtypes
AND values compared exactly. This is deliberately dtype-sensitive — a
DuckDB HUGEINT (pandas float64/object) against a Spark BIGINT (int64)
must FAIL here, because it fails at the driver (round-7 lesson: the old
Python-value compare passed three oracles the driver rejected). An
unsortable column (e.g. a raw ARRAY) is likewise a FAIL, mirroring the
driver's pandas sort_values throw. An oracle with no result directory is
a FAIL (MISSING-RESULT). Prints one line per query + summary.
"""
import json
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    """Driver-shaped canonical form: columns sorted by name, rows sorted
    by all columns (stable), index dropped. Raises TypeError on
    unhashable/unsortable cells exactly like the driver's sort does.
    Integer WIDTHS are normalized to int64 (pandas hashes int32 and
    int64 values identically, and the driver passes e.g. Spark datediff
    int32 against DuckDB date_diff BIGINT) — but int-vs-float and
    int-vs-object stay distinct, which is exactly the HUGEINT failure
    class."""
    df = df[sorted(df.columns)]
    widen = {c: "int64" for c in df.columns
             if str(df[c].dtype) in ("int8", "int16", "int32",
                                     "uint8", "uint16", "uint32")}
    if widen:
        df = df.astype(widen)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True)


def main():
    out_dir, sf_dir = Path(sys.argv[1]), sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())

    results = {}
    for d in sorted(p for p in out_dir.iterdir() if p.is_dir()):
        name = d.name
        s_df = con.sql(f"SELECT * FROM '{d}/*.parquet'").df()
        if name not in oracle:
            results[name] = f"NO-ORACLE rows={len(s_df)}"
            continue
        try:
            o_df = con.sql(oracle[name]).df()
        except Exception as e:
            results[name] = f"ORACLE-ERROR {e}"
            continue
        if sorted(s_df.columns) != sorted(o_df.columns):
            results[name] = (f"SCHEMA-MISMATCH spark={sorted(s_df.columns)} "
                             f"oracle={sorted(o_df.columns)}")
            continue
        if len(s_df) != len(o_df):
            results[name] = (f"ROWCOUNT-MISMATCH spark={len(s_df)} "
                             f"oracle={len(o_df)}")
            continue
        try:
            s_c, o_c = canon(s_df), canon(o_df)
        except TypeError as e:
            results[name] = f"UNSORTABLE {e}"
            continue
        s_dt = [str(t) for t in s_c.dtypes]
        o_dt = [str(t) for t in o_c.dtypes]
        if s_dt != o_dt:
            results[name] = f"DTYPE-MISMATCH spark={s_dt} oracle={o_dt}"
            continue
        if s_c.equals(o_c):
            results[name] = f"MATCH rows={len(s_df)}"
        else:
            neq = (s_c != o_c) & ~(s_c.isna() & o_c.isna())
            bad = s_c[neq.any(axis=1)].head(3)
            results[name] = (f"VALUE-MISMATCH rows={neq.any(axis=1).sum()} "
                             f"first_spark_rows={bad.to_dict('records')}")

    # an oracle with no result (the query failed, or never ran) counts as
    # a failure, so the summary's denominator is every oracle name
    for name in oracle:
        results.setdefault(name, "MISSING-RESULT")

    ok = sum(1 for v in results.values() if v.startswith(("MATCH", "NO-ORACLE")))
    strict_ok = sum(1 for v in results.values() if v.startswith("MATCH"))
    for k, v in sorted(results.items()):
        print(f"{'PASS' if v.startswith(('MATCH','NO-ORACLE')) else 'FAIL':4} {k}: {v}")
    print(f"== {ok}/{len(results)} ok ({strict_ok} hard MATCH, "
          f"{ok - strict_ok} rows-only)")
    sys.exit(0 if ok == len(results) else 1)


if __name__ == "__main__":
    main()
