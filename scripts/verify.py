"""Driver-style verification: runs the /verify recipe end to end.

Usage: python scripts/verify.py [--sf SF_DIR] [--only name1,name2]
Must be run with cwd != /root/repo to catch executor-import issues
(the script enforces this by chdir'ing to a temp dir).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    args = ap.parse_args()

    os.chdir(tempfile.mkdtemp(prefix="xbs_verify_"))
    sys.path.insert(0, REPO)

    import duckdb
    import pandas as pd
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()  # vanilla, like the driver
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    print("entry rows:", len(E.entry(spark).collect()))

    from xarray_beam_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    # canon() deliberately MIRRORS THE DRIVER's comparison (see
    # .claude/skills/verify), not xarray_beam_spark.oracle._canon — adding
    # normalization the driver lacks would make this runner pass where the
    # driver fails.
    def canon(df: pd.DataFrame) -> pd.DataFrame:
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
            elif pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].astype("float64")
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    qs, osql = E.queries(), E.oracle_sql()
    names = sorted(qs) if not args.only else args.only.split(",")
    fails = 0
    for name in names:
        try:
            got = canon(qs[name](spark, args.sf).toPandas())
        except Exception as exc:  # noqa: BLE001
            print("ERROR", name, repr(exc)[:200])
            fails += 1
            continue
        if name not in osql:
            print("ROWS-ONLY", name, got.shape)
            continue
        try:
            want = canon(con.execute(osql[name]).df())
        except Exception as exc:  # noqa: BLE001 — one bad oracle SQL must
            # count as ONE fail, not abort the remaining queries unverified
            print("ORACLE-ERROR", name, repr(exc)[:200])
            fails += 1
            continue
        ok = (
            got.shape == want.shape
            and list(got.columns) == list(want.columns)
            and got.equals(want)
        )
        print("PASS" if ok else "FAIL", name, got.shape)
        fails += (not ok)
    print("TOTAL FAILS:", fails)
    from xarray_beam_spark.session import snapshot

    snap = snapshot(spark)
    print(f"session store: {len(snap['entries'])} entries, {snap['cached_bytes']} cached bytes")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
