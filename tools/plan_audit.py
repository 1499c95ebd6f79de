"""Physical-plan audit artifact: one JSON row per (lazily-constructed)
registered query summarizing the plan shapes that matter at 100 TB —
exchange count, join strategies, window presence, Python execution,
cartesians, whole-stage-codegen presence — plus ``plan_md5``, a digest
of the normalized optimized logical plan, so checking that a refactor
left every plan unchanged is a diff of two audit files.

Writes PLANAUDIT_r{N}.json so physical-design claims ("no unintended
cartesians", "small dims broadcast", "hot paths stay in codegen") are a
committed, checkable artifact instead of transcript anecdotes — the
plan-shape complement of SIM_r*.json. tests/test_plan_lint.py enforces
the hard gates; this records the full distribution.

Usage: python tools/plan_audit.py [out.json] [sf_dir]
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import re
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def plan_md5(df) -> str:
    """md5 of ``df``'s optimized logical plan with the per-process
    numbering taken out: expression ids (``#123``, ``#45L``) become
    ``#``, lambda-variable suffixes (``x_17``) become ``x_``, the
    ``plan_id`` of exchanges inside cached relations is dropped, and a
    scratch directory's random suffix (``fs_sigs_26kn6pvf``) is cut. Two
    constructions of the same query, in one process or two, digest
    equal; a change to the plan's operators or expressions does not.
    Fields the plan string omits are not seen: ``/`` and ``try_divide``
    print alike, as ``(a / b)``."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"(lambda \w+?)_\d+", r"\1_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    tmp = re.escape(tempfile.gettempdir())
    plan = re.sub(tmp + r"/([\w.-]*?)[a-z0-9_]{8}(?=[/\]\s,]|$)", r"<tmp>/\1", plan)
    return hashlib.md5(plan.encode()).hexdigest()


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "PLANAUDIT_r05.json"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from featurestore_for_joycastle_java_spark import get_spark, registry

    registry.load_catalog()
    from featurestore_for_joycastle_java_spark.registry import QUERIES

    # the construction-is-eager exclusions live in tests/test_plan_lint.py
    # (the enforcing gate) — import them so the two lists can't drift
    sys.path.insert(0, os.path.join(_REPO, "tests"))
    from test_plan_lint import (
        _EAGER_CONSTRUCTION as eager,
        _EAGER_CONSTRUCTION_PREFIXES as eager_prefixes,
    )

    spark = get_spark(
        app_name="plan-audit", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows: dict[str, dict] = {}
    for name in sorted(QUERIES):
        if name.startswith(eager_prefixes) or name in eager:
            rows[name] = {"skipped": "eager construction (see its tests)"}
            continue
        try:
            df = QUERIES[name](spark, sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            p = buf.getvalue()
            rows[name] = {
                "plan_md5": plan_md5(df),
                "exchanges": p.count("Exchange ("),
                "windows": p.count("Window ("),
                "bhj": p.count("BroadcastHashJoin ("),
                "smj": p.count("SortMergeJoin ("),
                "bnlj": p.count("BroadcastNestedLoopJoin ("),
                "cartesian": p.count("CartesianProduct ("),
                "python": ("ArrowEvalPython" in p)
                or ("BatchEvalPython" in p)
                or ("MapInPandas" in p)
                or ("PythonDataSource" in p)
                or ("FlatMapGroupsInPandas" in p),
                "pushed_filters": "PushedFilters: [" in p
                and "PushedFilters: []" not in p,
            }
            # Codegen presence can't be read off an AQE plan before
            # execution (AdaptiveSparkPlan defers codegen until runtime
            # re-planning, so both "formatted" and "codegen" explains
            # report nothing) — plan the query a second time with AQE
            # off to expose the static whole-stage-codegen structure.
            # The probe gets its own try/except so a header-parse hiccup
            # records codegen_subtrees: null instead of wiping the
            # formatted-plan fields, and the AQE conf is restored to its
            # SAVED prior value, not a hardcoded 'true' (ADVICE r8).
            aqe_prior = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    QUERIES[name](spark, sf).explain("codegen")
                head = buf.getvalue().split(".", 1)[0]
                n_cg = int(head.rsplit("Found ", 1)[-1].split(" ", 1)[0])
                rows[name]["codegen_subtrees"] = n_cg
                rows[name]["codegen"] = n_cg > 0
            except Exception as ex:  # noqa: BLE001 — probe-only failure
                rows[name]["codegen_subtrees"] = None
                rows[name]["codegen_probe_error"] = str(ex)[:160]
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", aqe_prior)
        except Exception as ex:  # noqa: BLE001 — record, don't abort
            rows[name] = {"error": str(ex)[:160]}
        spark.catalog.clearCache()

    audited = [r for r in rows.values() if "exchanges" in r]
    doc = {
        "sf_dir": sf,
        "n_queries": len(rows),
        "n_audited": len(audited),
        "n_skipped_eager": sum(1 for r in rows.values() if "skipped" in r),
        "n_errors": sum(1 for r in rows.values() if "error" in r),
        "totals": {
            "cartesian_plans": sum(
                1 for r in audited if r.get("cartesian", 0) > 0
            ),
            "python_plans": sum(1 for r in audited if r.get("python")),
            "codegen_plans": sum(1 for r in audited if r.get("codegen")),
            "max_exchanges": max(
                (r.get("exchanges", 0) for r in audited), default=0
            ),
        },
        "queries": rows,
    }
    with open(out, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    print(
        f"{out}: {doc['n_audited']} audited, "
        f"{doc['totals']['cartesian_plans']} cartesian, "
        f"{doc['totals']['python_plans']} python, "
        f"max exchanges {doc['totals']['max_exchanges']}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
