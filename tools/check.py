#!/usr/bin/env python3
"""Local self-check mimicking the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each query dir under verifyOutDir: read the Spark parquet result, run
the oracle SQL (oracle_sql.json) in DuckDB against the sfDir tables, sort
columns by name, and compare row counts and values.
"""
import sys, json, glob, math

import duckdb
import pandas as pd

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.reset_index(drop=True)

def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return str(a) == str(b)

def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    failures = 0
    # queries that failed to RUN are recorded by Verify, not just absent
    errored = {}
    try:
        with open(f"{out_dir}/errors.json") as f:
            errored = json.load(f)
            for name, msg in errored.items():
                print(f"{name:24s} ERR (query failed to run): {msg}")
                failures += 1
    except FileNotFoundError:
        pass
    seen = set(errored)
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = qdir.rstrip("/").split("/")[-1]
        if name in errored:
            # Verify deletes the dump of a failed query, but belt and
            # braces: never hash a stale dump against the current oracle
            # for a query errors.json says failed
            print(f"{name:24s} SKIPPED stale dump (listed in errors.json)")
            continue
        seen.add(name)
        spark_df = norm(pd.read_parquet(qdir))
        if name not in oracles:
            # every contract Entry carries its oracle, so a dump without
            # one is a broken artifact, never a weaker pass
            print(f"{name:24s} NO ORACLE: {len(spark_df)} rows dumped but "
                  f"oracle_sql.json has no SQL for it")
            failures += 1
            continue
        try:
            ora = norm(con.execute(oracles[name]).fetchdf())
        except Exception as e:
            print(f"{name:24s} ORACLE SQL ERROR: {e}")
            failures += 1
            continue
        ok = True
        if list(spark_df.columns) != list(ora.columns):
            print(f"{name:24s} COLS MISMATCH spark={list(spark_df.columns)} "
                  f"ora={list(ora.columns)}")
            ok = False
        elif len(spark_df) != len(ora):
            print(f"{name:24s} ROWS MISMATCH spark={len(spark_df)} ora={len(ora)}")
            ok = False
        else:
            for c in spark_df.columns:
                sv, ov = spark_df[c].tolist(), ora[c].tolist()
                bad = [(i, x, y) for i, (x, y) in enumerate(zip(sv, ov))
                       if not values_equal(x, y)]
                if bad:
                    i, x, y = bad[0]
                    print(f"{name:24s} VALUE MISMATCH col={c} row={i} "
                          f"spark={x!r} ora={y!r} ({len(bad)} bad)")
                    ok = False
                    break
        if ok:
            print(f"{name:24s} OK ({len(spark_df)} rows)")
        else:
            failures += 1
    # coverage: every contract query must have either a result dir or an
    # errors.json row — a query silently SKIPPED (filter bug rather than
    # failure) must not yield a green-looking run (n_ok + n_err must
    # cover the full roster Verify was asked to run)
    try:
        with open(f"{out_dir}/contract.json") as f:
            contract = set(json.load(f))
        missing = sorted(contract - seen)
        for name in missing:
            print(f"{name:24s} MISSING: no result dir and no errors.json "
                  f"row — query was silently skipped")
            failures += 1
    except FileNotFoundError:
        print("WARNING: no contract.json — coverage not asserted "
              "(pre-round-10 verify dump?)")
    return failures

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
