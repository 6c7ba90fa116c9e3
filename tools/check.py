#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs
the matching SQL from oracle_sql.json in DuckDB over the same source
parquet tables, and compares: row count, column names/dtypes, and exact
values (columns sorted by name, rows in emitted order). Oracles with no
result dir (a dump of a query subset) are listed as NOQUERY and counted
on their own in the summary line; the exit status is non-zero on any
failure or any NOQUERY.
"""
import json, sys, glob, os
import duckdb
import pandas as pd


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    n_pass = n_fail = n_uncheck = 0
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"MISSING  {name}: no parquet written")
            n_fail += 1
            continue
        ours = norm(pd.read_parquet(files))
        if name not in oracle:
            tag = "ok" if len(ours) > 0 else "EMPTY!"
            print(f"nooracle {name}: rows={len(ours)} {tag}")
            n_uncheck += 1
            continue
        try:
            theirs = norm(con.execute(oracle[name]).fetchdf())
        except Exception as e:
            print(f"ORACLE-ERR {name}: {e}")
            n_fail += 1
            continue
        if list(ours.columns) != list(theirs.columns):
            print(f"SCHEMA   {name}: ours={list(ours.columns)} oracle={list(theirs.columns)}")
            n_fail += 1
            continue
        if len(ours) != len(theirs):
            print(f"ROWCOUNT {name}: ours={len(ours)} oracle={len(theirs)}")
            n_fail += 1
            continue
        bad = []
        for c in ours.columns:
            a, b = ours[c], theirs[c]
            try:
                # Dtype-strict, like the driver's hash compare: a float64
                # oracle column against an int64 Spark column is a FAIL even
                # when values coincide (e.g. DuckDB list_sum promoting to
                # HUGEINT -> float64 fetch), because the hashed value repr
                # differs (2190.0 vs 2190). Same-KIND width skew (int32 vs
                # int64) hashes identically at the driver, so it only warns
                # here; object-vs-object (strings, dates, nested lists)
                # compares by value alone.
                if a.dtype != b.dtype:
                    if a.dtype == object and b.dtype == object:
                        pass
                    elif a.dtype.kind == b.dtype.kind:
                        print(f"dtypewarn {name}.{c}: {a.dtype} vs {b.dtype}")
                        b = b.astype(a.dtype)
                    else:
                        bad.append(f"{c}: DTYPE {a.dtype} vs {b.dtype}")
                        continue
                eq = (a.values == b.values) | (a.isna().values & b.isna().values)
                if not eq.all():
                    i = (~eq).argmax()
                    bad.append(f"{c}[{i}]: {a.iloc[i]!r} vs {b.iloc[i]!r} "
                               f"(dtypes {ours[c].dtype}/{theirs[c].dtype})")
            except Exception as e:
                bad.append(f"{c}: compare error {e} "
                           f"(dtypes {ours[c].dtype}/{theirs[c].dtype})")
        if bad:
            print(f"VALUES   {name}: {'; '.join(bad[:3])}")
            n_fail += 1
        else:
            n_pass += 1
    missing = sorted(set(oracle) - set(names))
    for name in missing:
        print(f"NOQUERY  {name}: oracle declared but no result dir")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_uncheck} oracle-less "
          f"(of {len(names)} results), {len(missing)} declared without a result")
    return 1 if n_fail or missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
