"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compares row count + schema-agnostic sorted-column value hash
(columns sorted by name; floats stringified after the query's own rounding).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import traceback

# the engine and registry of the checkout this script lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ARGS = [a for a in sys.argv[1:] if not a.startswith("--json")]
JSON_OUT = next((a.split("=", 1)[1] for a in sys.argv[1:]
                 if a.startswith("--json=")), None)
SF_DIR = ARGS[0] if ARGS else "/root/testdata/sf0.01"
ONLY = set(ARGS[1].split(",")) if len(ARGS) > 1 else None

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_val(v):
    import datetime as dt

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


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_val(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    import duckdb
    from pyspark.sql import SparkSession

    from polars_ruby_spark.session import configure

    import os as _os

    spark = configure(
        SparkSession.builder.master("local[*]")
        .appName("correctness-check")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        # the harness COLLECTS both sides to hash them; at sf1.0 a
        # full-projection query returns millions of rows and the 1g
        # default driver heap OOMs — override for big-SF oracle runs
        .config("spark.driver.memory",
                _os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    ok = fail = 0
    results: dict = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        rec = results[name] = {
            "rows_match": False, "schema_match": False,
            "hash_match": False, "spark_rows": None,
            "oracle_rows": None, "err": None}
        try:
            sdf = fn(spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
            rec["spark_rows"] = len(srows)
            if name not in oracles:
                print(f"  {name}: rows-only ({len(srows)} rows) — no oracle")
                rec.update(rows_match=len(srows) > 0, schema_match=None,
                           hash_match=None, err="rows-only (no oracle)")
                ok += 1
                continue
            orel = con.execute(oracles[name])
            ocols = [d[0] for d in orel.description]
            orows = orel.fetchall()
            rec["oracle_rows"] = len(orows)
            rec["rows_match"] = len(srows) == len(orows)
            rec["schema_match"] = sorted(scols) == sorted(ocols)
            problems = []
            if sorted(scols) != sorted(ocols):
                problems.append(f"schema: spark={sorted(scols)} oracle={sorted(ocols)}")
            if len(srows) != len(orows):
                problems.append(f"rowcount: spark={len(srows)} oracle={len(orows)}")
            if not problems:
                sh = table_hash(scols, srows)
                oh = table_hash(ocols, orows)
                rec["hash_match"] = sh == oh
                if sh != oh:
                    problems.append(f"hash: {sh} != {oh}")
                    # show first diffs
                    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                    order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                    sl = sorted("|".join(norm_val(r[i]) for i in order_s) for r in srows)
                    ol = sorted("|".join(norm_val(r[i]) for i in order_o) for r in orows)
                    for a, b in zip(sl, ol):
                        if a != b:
                            problems.append(f"  first diff:\n   spark : {a}\n   oracle: {b}")
                            break
            if problems:
                fail += 1
                print(f"✗ {name}: " + "; ".join(problems[:3]))
            else:
                ok += 1
                print(f"✓ {name} ({len(srows)} rows)")
        except Exception as e:
            fail += 1
            rec["err"] = f"{type(e).__name__}: {e}"
            print(f"✗ {name}: EXCEPTION {type(e).__name__}: {e}")
            traceback.print_exc(limit=3)
    print(f"\n{ok} ok, {fail} failed")
    if JSON_OUT:
        import json

        with open(JSON_OUT, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {JSON_OUT}")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main())
