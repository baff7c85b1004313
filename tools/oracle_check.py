"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at the given sf dir and compares against
``oracle_sql()`` via DuckDB: row count, sorted-column schema, and an
order-insensitive value hash. Usage:

    python tools/oracle_check.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def value_hash(rows: list[tuple]) -> str:
    canon = sorted("|".join(repr(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def main(sf_dir: str) -> int:
    import os

    from pdfmef_spark.sources import store

    # retarget the corpus-reading kg_* oracles to this sf (the SQL
    # strings default to the driver's sf0.01 gate scale otherwise)
    os.environ["SPARK_GRAFT_ORACLE_SF"] = str(store.sf_of_dir(sf_dir))

    import __spark_entry__ as E
    from pdfmef_spark.session import get_spark
    from pdfmef_spark.sources.store import TESTDATA_TABLES

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, os_ = E.queries(), E.oracle_sql()
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    failures = 0
    for name, fn in qs.items():
        if only and not any(name.startswith(p) for p in only):
            continue
        df = fn(spark, sf_dir)
        sdf = df.toPandas()
        cols = sorted(sdf.columns)
        srows = [tuple(r) for r in sdf[cols].itertuples(index=False)]
        if name not in os_:
            print(f"{name:32s} rows={len(srows):8d}  (rows-only check)")
            continue
        orows_df = con.execute(os_[name]).fetchdf()
        ocols = sorted(orows_df.columns)
        orows = [tuple(r) for r in orows_df[ocols].itertuples(index=False)]
        ok_rows = len(srows) == len(orows)
        ok_schema = cols == ocols
        ok_hash = value_hash(srows) == value_hash(orows)
        status = "OK " if (ok_rows and ok_schema and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{name:32s} rows={len(srows):8d} oracle={len(orows):8d} "
              f"schema={'=' if ok_schema else '!'} hash={'=' if ok_hash else '!'} {status}")
        if not ok_schema:
            print(f"    spark cols: {cols}\n    duck  cols: {ocols}")
        if ok_schema and ok_rows and not ok_hash:
            for a, b in list(zip(sorted(srows), sorted(orows)))[:3]:
                if a != b:
                    print(f"    spark: {a}\n    duck : {b}")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
