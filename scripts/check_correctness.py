"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 and compares with
the DuckDB oracle: row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified).
A query without an oracle_sql() entry fails.

    python scripts/check_correctness.py               # every query
    python scripts/check_correctness.py q1 cdc_replay # a subset

The last stdout line is a JSON record with one entry per queries() key:
{"status": "PASS" | "FAIL" | "err" | "skip", "rows", "seconds"} ("err":
Spark or DuckDB raised; "skip": not in the requested subset).  The exit
code is non-zero when any query fails, or when the key sets of
queries() and oracle_sql() differ.
"""

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings".split()
)


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    # canonical stringification
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (bytes, bytearray)):
            return v.hex()
        if isinstance(v, list):
            return ",".join(cell(x) for x in v)
        return str(v)

    rows = sorted("|".join(cell(v) for v in row) for row in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main():
    from giraffe_etl_spark.session import get_spark
    import __spark_entry__ as e

    only = set(sys.argv[1:])
    spark = get_spark("correctness-check", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = e.queries(), e.oracle_sql()
    record = {name: {"status": "skip", "rows": None, "seconds": None} for name in qs}
    unpaired = sorted(set(qs) ^ set(oracles))
    if unpaired:
        print(f"FAIL queries() and oracle_sql() keys differ: {unpaired}")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        entry = record[name]
        t0 = time.monotonic()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            entry.update(status="err", seconds=round(time.monotonic() - t0, 3))
            failures.append(name)
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            continue
        entry.update(status="FAIL", rows=len(got), seconds=round(time.monotonic() - t0, 3))
        sql = oracles.get(name)
        if sql is None:
            failures.append(name)
            print(f"FAIL {name}: no oracle_sql() entry ({len(got)} rows)")
            continue
        try:
            want = con.execute(sql).df()
        except Exception as ex:
            entry["status"] = "err"
            failures.append(name)
            print(f"FAIL {name}: duckdb error {ex}")
            continue
        problems = []
        if len(got) != len(want):
            problems.append(f"rows {len(got)} != {len(want)}")
        if sorted(got.columns) != sorted(want.columns):
            problems.append(f"cols {sorted(got.columns)} != {sorted(want.columns)}")
        elif value_hash(got) != value_hash(want):
            problems.append("value hash mismatch")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
            if sorted(got.columns) == sorted(want.columns) and len(got) == len(want):
                g = got.reindex(sorted(got.columns), axis=1).sort_values(
                    sorted(got.columns)
                ).reset_index(drop=True)
                w = want.reindex(sorted(want.columns), axis=1).sort_values(
                    sorted(want.columns)
                ).reset_index(drop=True)
                diff = (g.astype(str) != w.astype(str)).any(axis=1)
                print("  first diffs:")
                print(pd.concat([g[diff].head(3), w[diff].head(3)], keys=["got", "want"]))
        else:
            entry["status"] = "PASS"
            print(f"PASS {name} ({len(got)} rows)")
    print("\n" + ("ALL OK" if not failures else f"FAILURES: {failures}"))
    print(json.dumps({"queries": record, "unpaired_keys": unpaired}, sort_keys=True))
    return 1 if failures or unpaired else 0


if __name__ == "__main__":
    raise SystemExit(main())
