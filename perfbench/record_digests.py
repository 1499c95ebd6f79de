"""Record the canonical result digest of every mix query in digests.json.

    python3 perfbench/record_digests.py

Each digest is recorded only if the Spark result equals its DuckDB oracle on
the fixture the query runs on (the ``tests/oracle.py`` comparison). The
feature queries must run no Python workers, so one whose physical plan hands
rows to Python is refused too. None of the mix's queries has a quadratic
oracle, so every oracle runs on the whole fixture.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Physical operators that hand rows to Python workers.
PYTHON_EXECS = ("EvalPython", "InPandas", "InArrow", "PythonUDTF", "PythonDataSource")


def main() -> int:
    sys.path[0] = ROOT
    sys.path.append(os.path.join(ROOT, "tests"))
    from oracle import _canon, duckdb_run

    from featurestore_for_joycastle_java_spark import registry
    from featurestore_for_joycastle_java_spark.session import get_spark
    from perfbench.workloads import CATALOG_MIX, DIGESTS, FEATURE_QUERIES, canonical_digest

    registry.load_catalog()
    spark = get_spark(
        app_name="perfbench-digests", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    digests, bad = {}, []
    for name, fixture_dir in CATALOG_MIX.items():
        df = registry.QUERIES[name](spark, fixture_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        python = [p for p in PYTHON_EXECS if p in plan] if name in FEATURE_QUERIES else []
        mine = df.toPandas()
        oracle = duckdb_run(registry.ORACLES[name], fixture_dir)
        if python or _canon(mine) != _canon(oracle):
            bad.append(name)
            print(f"{name}: REFUSED (python execs {python})" if python else f"{name}: differs from its oracle")
            continue
        digests[name] = canonical_digest(mine)
        print(f"{name}: {len(mine)} rows on {os.path.basename(fixture_dir)}, {digests[name][:12]}")
    spark.stop()
    if bad:
        return 1
    with open(DIGESTS, "w") as fh:
        json.dump({"queries": digests}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
