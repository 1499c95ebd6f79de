"""Check named registered queries against their DuckDB oracles on a
VANILLA session (the driver's shape) at one or more scale dirs.

Usage: python tools/oracle_check.py [--sf DIR ...] name [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument(
        "--sf",
        action="append",
        default=[],
        help="scale dir (repeatable); default sf0.001 + sf0.01",
    )
    args = ap.parse_args()
    sfs = args.sf or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from oracle import compare

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = E.queries(), E.oracle_sql()
    rc = 0
    for sf in sfs:
        for name in args.names:
            t0 = time.monotonic()
            try:
                if name in oracles:
                    compare(qs[name](spark, sf), oracles[name], sf)
                    status = "ok"
                else:
                    status = f"rows-only n={qs[name](spark, sf).count()}"
            except Exception as ex:  # noqa: BLE001
                status = f"FAIL {str(ex)[:300]}"
                rc = 1
            print(
                f"{os.path.basename(sf)} {name}: {status}"
                f" ({time.monotonic() - t0:.1f}s)",
                flush=True,
            )
            spark.catalog.clearCache()
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
