"""Oracle check of query outputs.

Each output is compared with its oracle SQL (`SparkEntry.oracleSql`) run
in DuckDB over the same parquet tables, with the canonical compare of the
engine's correctness harness (scripts/compare.py): columns sorted by name,
rows in canonical order, values equal exactly (numerically equal values
match across integer and float types; NULL matches NULL), and an oracle
column typed HUGEINT fails. The compare is done on digests of the
canonical frames, so an oracle result can be computed once and reused:
`expected.json` holds the digests of the oracle results on the benchmark's
fixed tables, keyed by the SHA-256 of the oracle SQL; an oracle whose SQL
has changed is run in DuckDB again and its digest cached under
perfbench/.cache.

Usage: python3 perfbench/check.py <table_dir> <outputs_dir>
  checks every output in <outputs_dir> (with its oracle_sql.json)
"""
import datetime
import decimal
import glob
import hashlib
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

BENCH = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(BENCH, "expected.json")
CACHE = os.path.join(BENCH, ".cache")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
NULL = "\x00null"


def _scalar(v):
    """Canonical text of one value: equal numbers print alike whatever
    their type, dates and times print as UTC microseconds."""
    if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT:
        return NULL
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_scalar(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return str(int(f)) if f.is_integer() and abs(f) < 2 ** 53 else repr(f + 0.0)
    if isinstance(v, (datetime.date, datetime.datetime, pd.Timestamp)):
        t = pd.Timestamp(v)
        if t.tzinfo is not None:
            t = t.tz_convert("UTC").tz_localize(None)
        return "t" + str(t.value // 1000)
    if isinstance(v, bytes):
        return "b" + v.hex()
    return "s" + str(v)


def _column(s):
    """A hashable canonical column (fast paths for plain numbers)."""
    if not s.isna().any():
        if s.dtype.kind in "iu":
            return s.astype("int64")
        if s.dtype.kind == "b":
            return s.astype("int64")
        if s.dtype.kind == "f":
            v = s.to_numpy(dtype="float64") + 0.0
            if np.all(np.mod(v, 1) == 0) and np.all(np.abs(v) < 2 ** 53):
                return pd.Series(v.astype("int64"))
            return pd.Series(v)
    if s.dtype.kind == "M":
        s = s.astype(object)
    return pd.Series([_scalar(v) for v in s.to_numpy(dtype=object)], dtype=object)


def digest(df):
    """Digest of a frame's canonical form: sorted column names, row count
    and the sorted per-row hashes of the canonical values."""
    cols = sorted(df.columns)
    canon = pd.DataFrame({c: _column(df[c].reset_index(drop=True)) for c in cols})
    rows = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy()) \
        if len(canon) else np.zeros(0, dtype="uint64")
    h = hashlib.sha256(json.dumps([cols, len(df)]).encode())
    h.update(rows.tobytes())
    return h.hexdigest()


def sql_key(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def _connect(table_dir):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    return con


def oracle_digest(con, sql):
    """Digest of the oracle's result, or an error string."""
    desc = con.execute(f"DESCRIBE ({sql})").df()
    huge = [c for c, t in zip(desc["column_name"], desc["column_type"])
            if "HUGEINT" in str(t).upper()]
    if huge:
        return f"error: oracle yields HUGEINT columns {huge}"
    return digest(con.execute(sql).df())


def _known():
    known = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            known.update(json.load(f)["oracles"])
    for p in glob.glob(os.path.join(CACHE, "oracle-*.json")):
        with open(p) as f:
            known.update(json.load(f))
    return known


def output(out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def failures(table_dir, out_dir, tables_key):
    """Map of query name -> reason, for every output that does not match.
    `tables_key` names the fixed table set `table_dir` belongs to."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    known = _known()
    con = None
    failed = {}
    for name, sql in sorted(oracle.items()):
        key = f"{tables_key}/{os.path.basename(table_dir)}:{sql_key(sql)}"
        if key not in known:
            con = con or _connect(table_dir)
            try:
                known[key] = oracle_digest(con, sql)
            except Exception as ex:  # a broken oracle fails its query
                known[key] = f"error: {ex}"
            os.makedirs(CACHE, exist_ok=True)
            with open(os.path.join(CACHE, f"oracle-{sql_key(key)[:16]}.json"), "w") as f:
                json.dump({key: known[key]}, f)
        got = output(out_dir, name)
        if got is None:
            failed[name] = "no output"
        elif known[key].startswith("error"):
            failed[name] = known[key]
        elif digest(got) != known[key]:
            failed[name] = "output differs from the oracle result"
    return failed


if __name__ == "__main__":
    import gen
    bad = failures(sys.argv[1], sys.argv[2], gen.tables_key())
    for n, why in bad.items():
        print(f"FAIL {n}: {why}")
    sys.exit(1 if bad else 0)
