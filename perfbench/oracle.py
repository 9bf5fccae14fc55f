"""DuckDB oracle check of the benchmark's unit outputs.

Each unit's collected rows (written as parquet by the benchmark JVM) are
compared with its query's oracle SQL (graft.SparkEntry.oracleSql) run by
DuckDB over the same input tables. Canonicalization, column, row-count,
dtype and exact-value checks are those of dev/check.py. Oracle results
depend only on the SQL text and the input tables, so they are cached
under .bench_build/ keyed by both.
"""
import hashlib
from pathlib import Path

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _data_key(data: Path) -> bytes:
    h = hashlib.sha256()
    for f in sorted(data.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.digest()


def expected(con, sql: str, cache: Path, data_key: bytes) -> pd.DataFrame:
    key = hashlib.sha256(data_key + sql.encode()).hexdigest()[:24]
    path = cache / f"{key}.pkl"
    if path.exists():
        return pd.read_pickle(path)
    df = canon(con.execute(sql).df())
    cache.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    df.to_pickle(tmp)
    tmp.rename(path)
    return df


def mismatch(got: pd.DataFrame, exp: pd.DataFrame):
    """Why `got` differs from `exp`, or None when they match."""
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    # typed comparison: BIGINT vs DECIMAL differ even when values agree
    if [str(t) for t in got.dtypes] != [str(t) for t in exp.dtypes]:
        return f"dtypes {list(map(str, got.dtypes))} != {list(map(str, exp.dtypes))}"
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return "value mismatch: " + str(e)[:300]
    return None


def check(data: Path, oracle_sql: dict, outputs: dict, cache: Path) -> dict:
    """Map of query -> reason for every unit whose output is missing or
    differs from its oracle."""
    con = duckdb.connect()
    for f in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    key = _data_key(data)
    bad = {}
    for query, sql in oracle_sql.items():
        if query not in outputs:
            bad[query] = "no output"
            continue
        try:
            got = canon(con.execute(
                f"SELECT * FROM read_parquet('{outputs[query]}/*.parquet')").df())
            why = mismatch(got, expected(con, sql, cache, key))
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            bad[query] = why
    con.close()
    return bad
