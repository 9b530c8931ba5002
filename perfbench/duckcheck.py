"""The benchmark's DuckDB checker.

Every result is reduced to a canonical digest: its column names in
sorted order, and each row rendered as text with one rule per column
type, the rows sorted and hashed with MD5. A Spark result and a DuckDB
oracle result match when their digests match, so a result can also be
checked against a digest stored earlier.

Rendering rules: integers, and floats or decimals that hold an integer,
as the integer; other floats as DuckDB's shortest round-trip text;
other decimals with trailing zeros dropped; timestamps as UTC
timestamps to the microsecond; NULL as a marker no value renders to.

Each connection gets its own temporary directory, and tables are read
from the parquet directories Spark writes (or single files).
"""
import glob
import os

import duckdb

NULL = "∅"


def connect(tmp_dir, threads, tables_dir=None, tables=()):
    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect(config={"threads": threads,
                                 "temp_directory": tmp_dir,
                                 "memory_limit": "4GB"})
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"{parquet_source(f'{tables_dir}/{t}.parquet')}")
    return con


def parquet_source(path):
    """A read_parquet call for a parquet file or a directory of them."""
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    return "read_parquet('" + path.replace("'", "''") + "')"


def _render(col, typ):
    c = '"' + col.replace('"', '""') + '"'
    t = typ.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT",
             "BOOLEAN", "VARCHAR", "DATE"):
        e = f"CAST({c} AS VARCHAR)"
    elif t in ("DOUBLE", "FLOAT", "REAL"):
        e = (f"CASE WHEN isfinite({c}) AND {c} = trunc({c}) AND "
             f"abs({c}) < 9007199254740992 "
             f"THEN CAST(CAST({c} AS HUGEINT) AS VARCHAR) "
             f"ELSE CAST(CAST({c} AS DOUBLE) AS VARCHAR) END")
    elif t.startswith("DECIMAL"):
        e = (f"CASE WHEN {c} = trunc({c}) "
             f"THEN CAST(CAST({c} AS HUGEINT) AS VARCHAR) "
             f"ELSE rtrim(rtrim(CAST({c} AS VARCHAR), '0'), '.') END")
    elif t.startswith("TIMESTAMP"):
        e = f"CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
    elif t == "BLOB":
        e = f"hex({c})"
    else:
        e = f"CAST({c} AS VARCHAR)"
    return f"coalesce({e}, '{NULL}')"


def digest(con, relation):
    """(rows, digest) of the result of `relation` (a SELECT or a
    table function call)."""
    cols = con.execute(f"DESCRIBE SELECT * FROM ({relation})").fetchall()
    cols = sorted((c[0], c[1]) for c in cols)
    row = " || chr(31) || ".join(_render(n, t) for n, t in cols) or "''"
    n, md5 = con.execute(
        f"SELECT count(*), md5(coalesce(string_agg(r, chr(30) ORDER BY r),"
        f" '')) FROM (SELECT {row} AS r FROM ({relation}))").fetchone()
    header = ",".join(n_ for n_, _ in cols)
    return n, f"{header}:{md5}"


def output_digest(con, out_dir):
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        raise ValueError(f"no parquet files in {out_dir}")
    return digest(con, "SELECT * FROM " + parquet_source(out_dir))


def approx_distinct_check(con, out_dir, rsd=0.05):
    """`q_approx_distinct` has no oracle statement: `exact_orders` must
    equal DuckDB's exact distinct count per return flag, and
    `approx_orders` must lie within three standard errors (3 x rsd,
    Spark's default rsd being 0.05) of it. Returns an error or None."""
    want = dict(con.execute(
        "SELECT l_returnflag, count(DISTINCT l_orderkey) FROM lineitem "
        "GROUP BY 1").fetchall())
    got = con.execute(
        "SELECT l_returnflag, approx_orders, exact_orders FROM "
        + parquet_source(out_dir)).fetchall()
    if sorted(g[0] for g in got) != sorted(want):
        return f"return flags {sorted(g[0] for g in got)} != {sorted(want)}"
    for flag, approx, exact in got:
        if exact != want[flag]:
            return f"exact_orders[{flag}] = {exact}, DuckDB {want[flag]}"
        if abs(approx - exact) > 3 * rsd * exact:
            return (f"approx_orders[{flag}] = {approx} outside "
                    f"3 x {rsd} of {exact}")
    return None
