"""Full-registry driver simulation — the strongest pre-round-end check.

Runs every registered query against its DuckDB oracle exactly the way the
driver does (row count + column names + order-insensitive value hash) at
the given scale factor, printing one line per query and a final failure
list. Rows-only queries (no oracle) get a count-executes check.

Usage:
    python tools/driver_sim.py [sf_dir] [first_n] [skip_n] [name ...]

    sf_dir   defaults to /root/testdata/sf0.01 (the driver's gate SF)
    first_n  limit to the first N registered queries (the driver's
             correctness window records 50); default (or 0) = all
    skip_n   skip the first N queries (resume a long sweep — e.g. the
             sf0.1 sweep, whose quadratic DuckDB oracles run ~1 h total)
    name     check only these queries, in this order (first_n/skip_n
             then apply to this list) — e.g.
             ``driver_sim.py /root/testdata/sf0.001 0 0 asof_backward_purchase_click``
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))


#: Queries whose DuckDB oracle is QUADRATIC in the documents table (the
#: all-pairs shingle-jaccard replay). At sf0.1 (5 000 docs = 12.5 M list
#: intersections) that oracle runs ~1 h; with SPARK_GRAFT_SIM_CAP=<n_docs>
#: set, these queries are checked TWO ways instead (VERDICT r6 ask #9):
#:   1. full-oracle parity on a CAPPED corpus — engine and oracle both run
#:      on a scratch sf_dir whose documents table is the doc_id < cap
#:      slice (7 near-dup pairs inside the 1 000-doc slice, so the check
#:      is non-trivial), every other table symlinked;
#:   2. a structural full-scale run — the engine query executes at the
#:      full SF and its row count is recorded.
_QUADRATIC_ORACLES = {
    "dedup_minhash_lsh",
    "dedup_pipeline_lsh",
    "train_corpus_prep_neardup",
    "dedup_incremental_batch",
}


def _capped_sf_dir(sf: str, cap: int) -> str:
    """Scratch sf_dir with documents sliced to doc_id < cap; other tables
    symlinked. Built once per run, removed at exit."""
    import atexit
    import shutil
    import tempfile

    import duckdb

    from featurestore_for_joycastle_java_spark.schemas import TABLE_NAMES

    base = tempfile.mkdtemp(prefix="fs_simcap_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    for t in TABLE_NAMES:
        src = os.path.join(sf, f"{t}.parquet")
        dst = os.path.join(base, f"{t}.parquet")
        if t == "documents":
            duckdb.connect().execute(
                f"COPY (SELECT * FROM read_parquet('{src}') "
                f"WHERE doc_id < {cap}) TO '{dst}' (FORMAT PARQUET)"
            )
        elif os.path.exists(src):
            os.symlink(src, dst)
    return base


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    first_n = int(sys.argv[2]) if len(sys.argv) > 2 else None
    skip_n = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    cap = int(os.environ.get("SPARK_GRAFT_SIM_CAP", "0"))

    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from oracle import compare

    # vanilla session on purpose: the driver builds its own (no engine
    # configs), so config-dependence bugs must surface here.
    # SPARK_GRAFT_SIM_EXTRA_CONF="k=v,k=v" deliberately perturbs the
    # session for the robustness axes (e.g. spark.sql.ansi.enabled=false
    # — the legacy wrap/null-semantics matrix run each round since r11).
    builder = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for kv in os.environ.get("SPARK_GRAFT_SIM_EXTRA_CONF", "").split(","):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = E.queries(), E.oracle_sql()
    names = sys.argv[4:] or list(qs)
    names = names[:first_n] if first_n else names
    names = names[skip_n:]
    capped_dir = _capped_sf_dir(sf, cap) if cap else None
    fails: list[str] = []
    results: dict[str, dict] = {}
    t_all = time.monotonic()
    for i, name in enumerate(names):
        t0 = time.monotonic()
        try:
            if cap and name in _QUADRATIC_ORACLES and name in oracles:
                compare(qs[name](spark, capped_dir), oracles[name], capped_dir)
                n_full = qs[name](spark, sf).count()
                status = f"ok-capped({cap}) full-run n={n_full}"
            elif name in oracles:
                compare(qs[name](spark, sf), oracles[name], sf)
                status = "ok"
            else:
                status = f"rows-only n={qs[name](spark, sf).count()}"
        except Exception as ex:  # noqa: BLE001 — report, don't abort the sweep
            status = f"FAIL {str(ex)[:200]}"
            fails.append(name)
        dt = round(time.monotonic() - t0, 1)
        results[name] = {"status": status, "sec": dt}
        print(f"[{i + 1:03d}/{len(names)}] {name}: {status} ({dt}s)", flush=True)
        _flush_artifact(sf, dict(results))
        spark.catalog.clearCache()
    print(f"TOTAL {time.monotonic() - t_all:.0f}s FAILURES: {fails}", flush=True)
    return 1 if fails else 0


def _flush_artifact(sf: str, results: dict) -> None:
    """Optional committed artifact (VERDICT r4 #7): one JSON recording the
    whole sweep, so a full-registry run at any SF is a checkable claim
    instead of a transcript anecdote. SPARK_GRAFT_SIM_OUT=path enables;
    merges per-query rows so chunked sweeps (skip_n/first_n resumes)
    accumulate into ONE file — flushed after every query, so a hung sweep
    still leaves its completed rows on disk."""
    out = os.environ.get("SPARK_GRAFT_SIM_OUT")
    if out:
        import json

        doc = {"sf_dir": sf, "queries": {}}
        if os.path.exists(out):
            try:
                with open(out) as fh:
                    loaded = json.load(fh)
                # tolerate foreign/stale files: only adopt a dict with a
                # dict "queries" — anything else is reset, never crashed on
                if isinstance(loaded, dict) and isinstance(
                    loaded.get("queries"), dict
                ):
                    doc = loaded
            except (json.JSONDecodeError, OSError):
                pass
        doc["sf_dir"] = sf
        doc["queries"].update(results)
        doc["n_queries"] = len(doc["queries"])
        doc["n_fail"] = sum(
            1
            for r in doc["queries"].values()
            if str(r.get("status", "")).startswith("FAIL")
        )
        doc["total_sec"] = round(
            sum(r.get("sec", 0) for r in doc["queries"].values()), 1
        )
        with open(out, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
