"""DuckDB oracle for the registry queries.

Each query's Spark result is compared with DuckDB running the registry's
``oracle_sql()`` text over the same parquet files: equal row counts, equal
column-name sets and an equal hash of the rows after normalization.  The
normalization is the one the repository's correctness gate uses: columns in
name order, rows sorted, floats rounded to 9 places, integral floats printed
as integers.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os

from datagen import TABLES


def norm_val(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_val(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_val(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_hash(cols, rows) -> str:
    """Order-insensitive hash of ``rows`` whose columns are named ``cols``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(norm_val(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def fingerprint(cols, rows) -> tuple:
    """What a result is compared by: sorted column names, row count, hash."""
    return (tuple(sorted(cols)), len(rows), table_hash(cols, rows))


def expected(data_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    """Run each oracle query on DuckDB over ``data_dir``; name → fingerprint."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in sqls.items():
            rel = con.execute(sql)
            cols = [d[0] for d in rel.description]
            out[name] = fingerprint(cols, rel.fetchall())
        return out
    finally:
        con.close()


def mismatch(got: tuple, want: tuple) -> str | None:
    """A one-line reason the two fingerprints differ, or None if equal."""
    if got[0] != want[0]:
        return f"columns {list(got[0])} != {list(want[0])}"
    if got[1] != want[1]:
        return f"rows {got[1]} != {want[1]}"
    if got[2] != want[2]:
        return f"hash {got[2]} != {want[2]}"
    return None
