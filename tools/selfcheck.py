#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/selfcheck.py <outDir-from-Verify> <sfDir> [q1,q2,...]

With a query list (the filter a partial `graft.Verify` dump was given),
only those queries are compared, and each must have a result and an oracle.

Loads each <outDir>/<name>/ parquet (Spark result), runs the matching SQL from
<outDir>/oracle_sql.json in DuckDB over the sfDir parquet tables, and compares:
  - column names (sorted),
  - row counts,
  - cell values (rows sorted by all columns, floats compared to 1e-9,
    timestamps/dates stringified).
NOT part of the shipped library - driver-side tooling only.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith(("datetime", "timestamp")):
            df[c] = df[c].astype(str)
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: str(v) if isinstance(v, (bytes, list)) else v)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _num_class(t):
    """Collapse a type name into the numeric class the driver's hash is
    sensitive to: int / float / decimal / other."""
    t = str(t).lower()
    if t.startswith(("int", "uint", "bigint", "smallint", "tinyint",
                     "ubigint", "usmallint", "utinyint", "integer", "hugeint")):
        # HUGEINT is int-family in DuckDB but decimal128 in the arrow
        # artifact the driver hashes — classify it as decimal on purpose.
        return "decimal" if "hugeint" in t else "int"
    if t.startswith(("float", "double", "real", "halffloat")):
        return "float"
    if t.startswith("decimal"):
        return "decimal"
    return "other"


def type_mismatch(spark_file, con, sql):
    """Type-strict gate (round-13): compare the Spark parquet's physical
    arrow dtypes against the DuckDB oracle's declared result types, the way
    the driver's hash comparator sees them. Catches HUGEINT/DECIMAL leaks
    (e.g. DuckDB promoting sum(BIGINT) to HUGEINT) that value-tolerant
    comparison greens but the driver reds. Returns an error string or None."""
    schema = pq.read_schema(spark_file)
    spark_types = {f.name: str(f.type) for f in schema}
    rel = con.sql(sql)
    duck_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    for c in sorted(set(spark_types) & set(duck_types)):
        sc, dc = _num_class(spark_types[c]), _num_class(duck_types[c])
        if sc != dc and "other" not in (sc, dc):
            return (f"DTYPE col={c} spark={spark_types[c]}({sc}) "
                    f"duck={duck_types[c]}({dc})")
    return None


def compare(name, spark_df, duck_df):
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        return f"COLS spark={sc} duck={dc}"
    if len(spark_df) != len(duck_df):
        return f"ROWS spark={len(spark_df)} duck={len(duck_df)}"
    s, d = canon(spark_df), canon(duck_df)
    for c in s.columns:
        a, b = s[c], d[c]
        try:
            if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                aa = pd.to_numeric(a, errors="coerce")
                bb = pd.to_numeric(b, errors="coerce")
                bad = ~(((aa - bb).abs() < 1e-9) | (aa.isna() & bb.isna()))
            else:
                bad = ~((a == b) | (a.isna() & b.isna()))
        except Exception as e:
            return f"CMP-ERR col {c}: {e}"
        if bad.any():
            i = bad.idxmax()
            return f"VAL col={c} row={i} spark={a[i]!r} duck={b[i]!r}"
    return None


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    if only is not None:
        missing = only - oracles.keys()
        if missing:
            print(f"FAIL no oracle for {sorted(missing)}"); sys.exit(1)
        oracles = {k: v for k, v in oracles.items() if k in only}
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")
    n_pass = n_fail = n_noracle = 0
    result_dirs = sorted(d for d in glob.glob(os.path.join(out_dir, "*"))
                         if os.path.isdir(d) and (only is None or os.path.basename(d) in only))
    for rd in result_dirs:
        name = os.path.basename(rd)
        files = glob.glob(os.path.join(rd, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no parquet output"); n_fail += 1; continue
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={len(spark_df)})"); n_noracle += 1; continue
        try:
            duck_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_fail += 1; continue
        err = type_mismatch(sorted(files)[0], con, oracles[name]) \
            or compare(name, spark_df, duck_df)
        if err:
            print(f"FAIL {name}: {err}"); n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_df)} rows)"); n_pass += 1
    # queries declared but not dumped
    for name in oracles:
        if not os.path.isdir(os.path.join(out_dir, name)):
            print(f"FAIL {name}: declared oracle but no result dir"); n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
