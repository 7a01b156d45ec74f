"""Vanilla-session oracle check for every query or a subset of them.

Usage: python tools/oracle_check.py ALL|q1,q2,... [sf_dir1,sf_dir2,...]
`ALL` checks every registered query and first runs `entry(spark)`, the
way the driver does. Defaults to sf0.001 + sf0.01 (the driver's gate
scales). Uses a VANILLA SparkSession (the verify-skill discipline: never
only get_spark) and the same comparator as tests/test_queries_oracle.py.
Rows-only queries (no oracle SQL) are executed and must return rows.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    sf_dirs = (
        sys.argv[2].split(",")
        if len(sys.argv) > 2
        else ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    )
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as m
    from oracle_harness import compare

    qs, osql = m.queries(), m.oracle_sql()
    if sys.argv[1] == "ALL":
        print("entry rows:", len(m.entry(spark).collect()), flush=True)
        names = sorted(qs)
    else:
        names = [q.strip() for q in sys.argv[1].split(",") if q.strip()]
    bad = 0
    for sf in sf_dirs:
        for n in names:
            if n in osql:
                err = compare(n, qs[n](spark, sf), osql[n], sf)
                tag = err or "PASS"
            else:
                nrows = len(qs[n](spark, sf).collect())
                tag = f"rows-only: {nrows} rows" + ("" if nrows else " (EMPTY!)")
                err = None if nrows else "empty"
            if err:
                bad += 1
            print(f"{sf.rsplit('/',1)[-1]:9s} {n:32s} {tag}", flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
