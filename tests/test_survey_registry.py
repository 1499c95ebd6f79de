"""Registry layout and SURVEY.md pinning.

SURVEY §2 is the coverage checklist, so every registered query is named
there and every query-like name it mentions is registered (or on the
explicit retired/operator-function allowlist). The catalog is grouped by
domain: each query lives in the module its name prefix maps to. The
driver checks the first 50 registered queries, and the registry orders
them least recently checked first. No Spark session needed."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

import __spark_entry__
from featurestore_for_joycastle_java_spark import registry

REPO = Path(__file__).resolve().parent.parent
PKG = "featurestore_for_joycastle_java_spark"

#: Query-name prefix -> the catalog module holding every query with it.
#: One-query prefixes sit with their nearest domain (``pysource`` with
#: ingest, ``ps`` with the SQL-text doors, ``er`` with dedup).
PREFIX_MODULE = {
    **dict.fromkeys(["ingest", "pysource"], "ingest"),
    **dict.fromkeys(
        [
            "agg",
            "join",
            "filter",
            "sort",
            "setops",
            "subquery",
            "reshape",
            "split",
            "formats",
        ],
        "relational",
    ),
    "tpch": "tpch",
    **dict.fromkeys(["scalar", "udf", "udtf"], "scalars"),
    **dict.fromkeys(["sql", "ps"], "sql"),
    **dict.fromkeys(
        ["window", "sessionize", "funnel", "retention", "seq", "interval"],
        "windows",
    ),
    "asof": "asof",
    **dict.fromkeys(
        ["feature", "scd", "attrib", "assoc", "geo"], "features"
    ),
    "ts": "timeseries",
    **dict.fromkeys(["quality", "profile", "diag"], "quality"),
    "eval": "eval",
    "text": "text",
    **dict.fromkeys(["dedup", "er"], "dedup"),
    "sim": "similarity",
    "graph": "graph",
    "stream": "streaming",
    "train": "training",
    "layout": "layout",
    "multimodal": "multimodal",
}


def _survey_section(start: str, end: str) -> str:
    s = (REPO / "SURVEY.md").read_text()
    return s[s.index(start) : s.index(end)]


#: The queries SURVEY §2.12/§2.13 introduce, keyed by the batch that
#: added them (the former round7/round7b/round7b_tail catalog modules,
#: whose queries now live in their domain modules).
_ROUND7_BATCHES = {
    "round7": """
        agg_approx_topk agg_hll_mergeable agg_kll_quantile_merge
        agg_theta_audience_overlap dedup_containment_pairs
        dedup_incremental_batch dedup_incremental_exact dedup_semdedup
        diag_join_cardinality diag_key_skew diag_table_diff
        er_customer_clusters er_golden_record feature_quantile_bins
        graph_bfs_hops layout_bucketed_join layout_schema_evolution
        layout_zorder_prune profile_null_patterns profile_observe_metrics
        profile_table_stats quality_delete_propagation quality_expectations
        sim_ivf_incremental sim_mips_topk sim_quantized_rerank
        stream_incremental_dedup stream_late_drops stream_pit_enrich
        text_phrase_match train_token_budget_mix udtf_table_arg_stats
    """.split(),
    "round7b": """
        agg_abc_pareto agg_exact_median agg_moments_skew_kurtosis
        agg_ordered_listagg agg_ratio_to_parent attrib_multitouch
        dedup_same_vs_cross_source diag_table_checksum er_agreement_patterns
        eval_avg_precision eval_js_divergence eval_lift_deciles
        eval_spearman_corr feature_capped_running_sum feature_count_encoding
        feature_crossed_hash feature_lag_matrix
        feature_target_encoding_smoothed feature_time_decay_counts
        geo_grid_hotspots graph_adamic_adar graph_assortativity
        graph_clustering_coefficient graph_degree_distribution
        interval_merge_overlaps join_right_outer layout_file_inventory
        profile_column_entropy quality_duplicate_rate_by_source
        quality_l_diversity quality_sequence_gaps quality_totals_reconcile
        scalar_bitwise_funcs scd_cdc_apply seq_trigram_motifs
        sim_cluster_purity sql_frontend_pivot stream_trending_topk
        text_collocations_pmi text_lm_quality train_curation_funnel
        train_curriculum_buckets train_mixture_temperature
        train_preference_pairs ts_ohlc_hourly ts_punchcard
        ts_weekday_seasonality ts_wow_growth window_rolling_zscore
        window_running_distinct
    """.split(),
    "round7b_tail": """
        sim_ivf_nprobe_curve sim_ivfpq_topk sim_knn_loo_accuracy
        sim_matryoshka_prefix text_zipf_fit train_export_shards
    """.split(),
}


@pytest.mark.parametrize(
    ("module", "start", "end"),
    [
        ("round7", "### 2.12", "### 2.13"),
        ("round7b", "### 2.13", "## 3. Query lifecycle"),
        ("round7b_tail", "### 2.13", "## 3. Query lifecycle"),
    ],
)
def test_round_sections_list_every_query(module, start, end):
    names = _ROUND7_BATCHES[module]
    assert set(names) <= set(registry.QUERIES), (
        f"{module} batch names unregistered queries: "
        f"{sorted(set(names) - set(registry.QUERIES))}"
    )
    sec = _survey_section(start, end)
    missing = sorted(n for n in names if f"`{n}`" not in sec)
    assert not missing, f"SURVEY section for {module} omits: {missing}"


def test_survey_section2_names_every_query():
    sec2 = _survey_section("## 2. Operator inventory", "## 3. Query lifecycle")
    missing = sorted(n for n in registry.QUERIES if f"`{n}`" not in sec2)
    assert not missing, f"SURVEY §2 omits: {missing}"


#: Names SURVEY legitimately mentions that are NOT registered queries:
#: retired registrations kept for the historical record, and operator
#: functions that share the query prefix vocabulary.
_ALLOWED_UNREGISTERED = {
    "agg_approx_distinct",  # retired r3 (SURVEY §2.5): weaker twin of _bounded
    "sim_lsh_topk",  # retired rows-only duty (SURVEY §2.5/§2.6)
    "dedup_simhash_pairs",  # retired rows-only duty (SURVEY §2.5/§2.6)
    "asof_join_bucketed",  # operator fn, operators/asof.py
}


def test_survey_query_mentions_are_registered():
    sec2 = _survey_section("## 2. Operator inventory", "## 3. Query lifecycle")
    prefixes = {n.split("_")[0] for n in registry.QUERIES}
    mentioned = {
        t
        for t in re.findall(r"`([a-z][a-z0-9_]+)`", sec2)
        if "_" in t and t.split("_")[0] in prefixes
    }
    ghosts = sorted(
        mentioned - set(registry.QUERIES) - _ALLOWED_UNREGISTERED
    )
    assert not ghosts, (
        "SURVEY §2 mentions query-like names that are not registered "
        f"(rename drift or stale claim): {ghosts}"
    )


def test_every_query_lives_in_its_domain_module():
    misplaced = {
        name: fn.__module__
        for name, fn in registry.QUERIES.items()
        if fn.__module__
        != f"{PKG}.catalog.{PREFIX_MODULE[name.split('_')[0]]}"
    }
    assert not misplaced
    modules = {p.stem for p in (REPO / PKG / "catalog").glob("*.py")}
    assert modules - {"__init__"} == set(PREFIX_MODULE.values())


def test_no_round_stamped_catalog_module():
    stamped = [
        p.name
        for p in (REPO / PKG / "catalog").iterdir()
        if re.fullmatch(r"(round.*|.*_r\d+)\.py", p.name)
    ]
    assert not stamped


def _write_correctness(root: Path, rounds: dict[int, list[str]]) -> None:
    for n, names in rounds.items():
        row = {"rows_match": True, "hash_match": True, "err": None}
        (root / f"CORRECTNESS_r{n:02d}.json").write_text(
            json.dumps({name: row for name in names})
        )


def test_driver_order_oldest_check_first(tmp_path):
    # a: r1; b, d: r2 (b also at r1); c: r10; e, f: never checked;
    # "retired" is listed but not registered
    _write_correctness(
        tmp_path,
        {1: ["a", "b", "retired"], 2: ["b", "d"], 10: ["c", "retired"]},
    )
    (tmp_path / "CORRECTNESS_notes.json").write_text(json.dumps({"a": 1}))
    names = ["d", "c", "f", "b", "a", "e"]
    assert registry.driver_order(names, tmp_path) == [
        "e",
        "f",
        "a",
        "b",
        "d",
        "c",
    ]
    empty = tmp_path / "empty"
    empty.mkdir()
    assert registry.driver_order(names, empty) == sorted(names)


def test_driver_window_skips_newest_check_and_takes_oldest():
    """The driver's 50-query window never re-checks the newest
    CORRECTNESS file's names while an older-checked query waits, and it
    holds every query whose last check is the oldest round."""
    files = {
        int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name).group(1)): p
        for p in REPO.glob("CORRECTNESS_r*.json")
    }
    last = {}
    for n in sorted(files):
        for name in json.loads(files[n].read_text()):
            last[name] = n
    queries = list(__spark_entry__.queries())
    window = queries[:50]
    assert len(set(window)) == 50
    newest = set(json.loads(files[max(files)].read_text()))
    assert not set(window) & newest
    oldest = min(last.get(n, 0) for n in queries)
    stale = {n for n in queries if last.get(n, 0) == oldest}
    assert stale <= set(window)
