"""Answer check for the graft benchmark.

The oracle answers come from DuckDB running each query's contract SQL over
the same seeded tables graft read. They are computed once per input
directory and cached next to the inputs. Comparison follows the contract
checker's rule: columns sorted by name, equal row counts, and each value
equal (floats exactly, NaN equal to NaN, everything else by its string
form), row by row in the order graft produced.
"""
import hashlib
import math
import os

import duckdb
import pandas as pd

from inputs import TABLES


def _norm(df):
    return df[sorted(df.columns)].reset_index(drop=True)


def _equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return str(a) == str(b)


def _connect(table_dir, tmp_dir):
    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                 "temp_directory": tmp_dir})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_dir}/{t}.parquet')")
    return con


def oracle_answers(table_dir, sql, cache_dir, tmp_dir):
    """Run every query's oracle SQL once per table directory; answers are
    cached as parquet keyed by a hash of the SQL. Returns name -> path,
    or name -> None for a query DuckDB could not replay."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name, q in sorted(sql.items()):
        key = hashlib.sha256(q.encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{name}-{key}.parquet")
        failed = path + ".failed"
        if not (os.path.exists(path) or os.path.exists(failed)):
            con = con or _connect(table_dir, tmp_dir)
            try:
                con.execute(q).fetchdf().to_parquet(path + ".tmp")
                os.replace(path + ".tmp", path)
            except Exception as e:  # noqa: BLE001 - recorded, not hidden
                with open(failed, "w") as f:
                    f.write(str(e)[:500])
        out[name] = path if os.path.exists(path) else None
    if con is not None:
        con.close()
    return out


def compare(answer_dir, oracle):
    """Compare graft's answers (one parquet dir per query) with the oracle.
    Returns (mismatches, unverified): lists of "name: why" lines and of
    query names with no oracle answer."""
    mismatches, unverified = [], []
    for name, path in sorted(oracle.items()):
        if path is None:
            unverified.append(name)
            continue
        got_dir = os.path.join(answer_dir, name)
        if not os.path.isdir(got_dir):
            continue  # the query failed to run; counted already
        got = _norm(pd.read_parquet(got_dir))
        want = _norm(pd.read_parquet(path))
        if list(got.columns) != list(want.columns):
            mismatches.append(f"{name}: columns {list(got.columns)} != "
                              f"{list(want.columns)}")
        elif len(got) != len(want):
            mismatches.append(f"{name}: {len(got)} rows != {len(want)}")
        else:
            for c in got.columns:
                bad = [i for i, (x, y) in enumerate(zip(got[c].tolist(),
                                                        want[c].tolist()))
                       if not _equal(x, y)]
                if bad:
                    mismatches.append(f"{name}: column {c} differs in "
                                      f"{len(bad)} rows (first: row {bad[0]})")
                    break
    return mismatches, unverified

