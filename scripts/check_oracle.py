#!/usr/bin/env python3
"""Local pre-check of the driver's DuckDB oracle gate.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir> [--only q30,q31,...]

Replicates the driver contract: run each SparkEntry.oracleSql statement in
DuckDB over the shared parquet tables, load the Spark result parquet written
by graft.Verify, sort columns by name + rows by all columns, and compare
values exactly. `--only` checks just the named statements: a name is a full
oracle name (q33_ngram_jaccard) or its query id (q33); a name that matches no
statement is an error. Without it every statement is checked. Dev tooling only — the engine itself never depends on this.
"""
import argparse, sys, json, glob, math
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize for stable sorting/compare
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(cells_equal(x, y) for x, y in zip(a, b))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def selected(names, only):
    """The oracle names `only` (comma-separated full names or query ids) picks."""
    if only is None:
        return sorted(names)
    wanted = [w for w in only.split(",") if w]
    picked = {n for n in names for w in wanted if n == w or n.startswith(w + "_")}
    unknown = [w for w in wanted
               if not any(n == w or n.startswith(w + "_") for n in names)]
    if unknown:
        sys.exit(f"--only: no oracle statement named {', '.join(unknown)}")
    return sorted(picked)


def main():
    ap = argparse.ArgumentParser(description="Compare graft.Verify outputs with the DuckDB oracle.")
    ap.add_argument("sfdir")
    ap.add_argument("outdir")
    ap.add_argument("--only", help="comma-separated oracle names or query ids to check")
    args = ap.parse_args()
    sfdir, outdir = args.sfdir, args.outdir
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in selected(oracle, args.only):
        sql = oracle[name]
        files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            ddf = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        flist = ", ".join(f"'{f}'" for f in files)
        dtypes = {c: str(t) for c, t in zip(con.sql(sql).columns, con.sql(sql).types)}
        srel = con.sql(f"SELECT * FROM read_parquet([{flist}])")
        stypes = {c: str(t) for c, t in zip(srel.columns, srel.types)}
        sdf = canon(srel.df())
        mism = {c: (stypes.get(c), dtypes.get(c)) for c in dtypes
                if c in stypes and stypes[c] != dtypes[c]}
        if mism:
            print(f"WARN {name}: dtype mismatch {mism}")
        if list(sdf.columns) != list(ddf.columns):
            print(f"FAIL {name}: columns spark={list(sdf.columns)} duck={list(ddf.columns)}")
            n_fail += 1
            continue
        if len(sdf) != len(ddf):
            print(f"FAIL {name}: rows spark={len(sdf)} duck={len(ddf)}")
            n_fail += 1
            continue
        bad = None
        for c in sdf.columns:
            sv, dv = sdf[c].tolist(), ddf[c].tolist()
            for i, (x, y) in enumerate(zip(sv, dv)):
                if not cells_equal(x, y):
                    bad = (c, i, x, y)
                    break
            if bad:
                break
        if bad:
            c, i, x, y = bad
            print(f"FAIL {name}: col={c} row={i} spark={x!r} duck={y!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows, {len(sdf.columns)} cols)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
