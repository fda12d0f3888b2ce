"""Oracle parity on adversarial fixture copies.

Each adversary in tools/adversary.py rewrites a copy of the sf0.001
fixtures to break one kind of luck the clean fixtures hide; its
transform's docstring there says what it plants and which bugs it has
caught. For every adversary this module checks that the adversary is
real on its copy, then re-runs oracle parity for each query prone to
it. The full-surface sweep on any adversary is `tools/adversary.py`
followed by `tools/check_oracle.py --sf <copy>`.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tools import adversary
from tools.check_oracle import compare, duck_views

# adversary -> the queries whose plans meet what it plants
PRONE = {
    # rank/row_number keep rules, top-k, dense ids, prefix sums, as-of,
    # sessionization, forward fill and ordered array aggregation
    "shuffle": [
        "q04_recent_rankings_top100",
        "q07_dedup_by_key",
        "q20_window_rank",
        "q21_multikey_sort",
        "q23_surrogate_keys",
        "q30_sliding_window",
        "q32_dedup_fingerprint_keep",
        "q36_ann_bruteforce_topk",
        "q56_asof_join",
        "q58_dense_ids_scale",
        "q69_doc_length_deciles",
        "q71_event_percentiles",
        "q92_cluster_representatives",
        "q95_state_at_event",
        "q98_shard_manifest",
        "q133_sessionization",
        "q147_forward_fill",
        "q161_linear_interpolation",
        "q164_user_journeys",
        "q166_pps_token_sample",
        "q190_seeded_shuffle_order",
        "q195_quantile_normalize",
        "q205_leakage_safe_split",
        "q239_spearman_correlation",
        "q253_mann_whitney_u",
        "q262_session_incident_overlap",
        "q271_budget_greedy_selection",
    ],
    # salted/equi joins on the hot key, per-user sessionization and windows,
    # shingle/band dedup (hot buckets), per-source caps, sampling and mixing,
    # and the skew/concentration censuses
    "skew": [
        "q29_sessionization",
        "q33_ngram_jaccard_pairs",
        "q34_minhash_lsh_pairs",
        "q35_simhash_pairs",
        "q51_salted_join",
        "q66_dedup_clusters",
        "q80_per_source_dup_stats",
        "q92_cluster_representatives",
        "q116_windowed_heavy_hitters",
        "q126_source_token_mix",
        "q133_sessionization",
        "q148_top_supplier_revenue",
        "q188_per_source_quality_cap",
        "q202_key_skew_census",
        "q206_pps_sample_per_source",
        "q210_effective_tokens_per_source",
    ],
    # aggregates, windows, bands and groups over a nulled column: value
    # percentiles and z-scores, props JSON, event_type censuses and spines,
    # lang joins, per-source rollups, acctbal and segment thresholds,
    # p_size skylines, priority shares
    "nullify": [
        "q17_json_extract",
        "q22_priority_share",
        "q28_tumbling_window",
        "q46_rollup",
        "q53_group_zscore",
        "q71_event_percentiles",
        "q81_event_funnel",
        "q116_windowed_heavy_hitters",
        "q126_source_token_mix",
        "q137_daily_event_anomaly",
        "q150_disjunctive_parts_revenue",
        "q152_idle_premium_customers",
        "q159_supplier_part_breadth",
        "q167_cusum_changepoint",
        "q169_daily_autocorrelation",
        "q170_dow_seasonality",
        "q175_kanon_census",
        "q203_event_transition_matrix",
        "q224_source_lang_mutual_info",
        "q233_pareto_frontier",
        "q249_l_diversity_census",
        "q256_t_closeness_audit",
        "q259_langid_cohens_kappa",
    ],
    # variance/z-score kernels, percentile and rank tails, range-derived
    # bins (PSI, KS, profile min/max), Benford, acctbal thresholds and
    # regression/forecast chains over events.value
    "extreme": [
        "q50_column_profile",
        "q53_group_zscore",
        "q71_event_percentiles",
        "q137_daily_event_anomaly",
        "q152_idle_premium_customers",
        "q165_robust_outlier_stats",
        "q167_cusum_changepoint",
        "q177_ks_source_drift",
        "q182_psi_drift",
        "q195_quantile_normalize",
        "q207_value_welch_ttest",
        "q240_benford_audit",
        "q245_bootstrap_mean_ci",
        "q250_ab_test_readout",
        "q255_theil_sen_trend",
        "q264_winsorized_means",
        "q266_durbin_watson",
        "q268_forecast_backtest",
    ],
    # orderings by events.ts: lag/lead, sessions, tumbling/sliding/trailing
    # windows, as-of probes, funnels and transitions, forward fill,
    # rank-by-recency
    "tstie": [
        "q28_tumbling_window",
        "q29_sessionization",
        "q30_sliding_window",
        "q56_asof_join",
        "q81_event_funnel",
        "q82_rolling_daily_events",
        "q106_scd2_asof_snapshot",
        "q116_windowed_heavy_hitters",
        "q133_sessionization",
        "q147_forward_fill",
        "q155_ewma_lag_chain",
        "q161_linear_interpolation",
        "q164_user_journeys",
        "q167_cusum_changepoint",
        "q197_last_touch_attribution",
        "q200_trailing_window_features",
        "q203_event_transition_matrix",
        "q262_session_incident_overlap",
    ],
    # tokenizers, shingles, fingerprints, term/char counts, language and
    # quality scores, and stats derived from documents.text / n_chars
    "unitext": [
        "q32_dedup_fingerprint_keep",
        "q33_ngram_jaccard_pairs",
        "q34_minhash_lsh_pairs",
        "q35_simhash_pairs",
        "q69_doc_length_deciles",
        "q75_tfidf_top_terms",
        "q76_winnow_fingerprints",
        "q101_token_budget_apportion",
        "q108_verbatim_decontamination",
        "q126_source_token_mix",
        "q132_token_cooccurrence",
        "q134_bpe_pair_merges",
        "q163_ngram_novelty",
        "q178_zipf_slope",
        "q181_lexical_entropy",
        "q184_bigram_surprisal",
        "q217_heaps_vocab_growth",
        "q248_mojibake_census",
        "q261_langid_class_prf",
        "q263_readability_census",
    ],
    # denominators the collapse can zero, plus the dedup family meeting a
    # source-sized exact-duplicate cluster
    "const": [
        "q53_group_zscore",
        "q66_dedup_clusters",
        "q80_per_source_dup_stats",
        "q137_daily_event_anomaly",
        "q165_robust_outlier_stats",
        "q167_cusum_changepoint",
        "q169_daily_autocorrelation",
        "q172_dsir_importance",
        "q177_ks_source_drift",
        "q181_lexical_entropy",
        "q182_psi_drift",
        "q184_bigram_surprisal",
        "q207_value_welch_ttest",
        "q208_dup_cluster_size_census",
        "q228_grouped_ols_regression",
        "q239_spearman_correlation",
        "q253_mann_whitney_u",
        "q255_theil_sen_trend",
        "q266_durbin_watson",
        "q272_dedup_capture_recapture",
    ],
    # statistics, censuses, spines, ranks and rollups partitioned by a
    # singleton-planted key (event_type, day, source, segment, priority)
    "singleton": [
        "q22_priority_share",
        "q46_rollup",
        "q53_group_zscore",
        "q71_event_percentiles",
        "q116_windowed_heavy_hitters",
        "q126_source_token_mix",
        "q137_daily_event_anomaly",
        "q152_idle_premium_customers",
        "q167_cusum_changepoint",
        "q169_daily_autocorrelation",
        "q170_dow_seasonality",
        "q175_kanon_census",
        "q177_ks_source_drift",
        "q188_per_source_quality_cap",
        "q203_event_transition_matrix",
        "q206_pps_sample_per_source",
        "q207_value_welch_ttest",
        "q224_source_lang_mutual_info",
        "q228_grouped_ols_regression",
        "q268_forecast_backtest",
    ],
}

PAIRS = [(adv, q) for adv, qs in PRONE.items() for q in qs]
QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_every_adversary_has_a_query_list():
    assert set(PRONE) == set(adversary.REGISTRY)


def test_query_lists_name_oracled_queries():
    missing = [q for _, q in PAIRS if q not in QUERIES or q not in ORACLES]
    assert not missing, f"subset names drifted: {missing}"


@pytest.fixture(scope="module")
def copies(sf_dir, tmp_path_factory):
    """name -> (dir, what was planted, DuckDB views), each adversary
    built once on first use. Every copy gets its own directory:
    catalog.table memoizes handles by absolute path."""
    built = {}

    def get(name):
        if name not in built:
            dst = str(tmp_path_factory.mktemp(name) / "sf0.001")
            info = adversary.build(name, sf_dir, dst)
            built[name] = (dst, info, duck_views(dst))
        return built[name]

    yield get
    for _, _, con in built.values():
        con.close()


@pytest.mark.parametrize("name", list(adversary.REGISTRY))
def test_adversary_is_real(copies, name):
    dst, info, _ = copies(name)
    checks = adversary.REGISTRY[name].real(info, dst)
    assert checks and all(checks.values()), checks


@pytest.mark.parametrize("name,query", PAIRS)
def test_query_survives_adversary(spark, copies, name, query):
    dst, _, con = copies(name)
    spark_pdf = QUERIES[query](spark, dst).toPandas()
    problems = compare(query, spark_pdf, con.execute(ORACLES[query]).fetchdf())
    assert not problems, problems
