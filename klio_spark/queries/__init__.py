"""Declared query registry — the SURVEY §2 operator inventory as runnable
(spark_fn, oracle_sql) pairs.

Each QuerySpec is one operator/capability claim: `fn(spark, sf_dir)` runs
the Spark-first implementation; `sql` is the ANSI equivalent DuckDB runs on
the same parquet (None → non-SQL-expressible, rows-only check).

Cross-engine numeric determinism rules (applied on BOTH sides):
  * per-row arithmetic stays in DOUBLE — IEEE ops on identical operands are
    bit-identical across engines;
  * every SUM of doubles is integerized per row first — FLOOR(x * 10^s) as
    BIGINT — then summed exactly and divided back. Plain double sums are
    order-dependent, and double→DECIMAL casts disagree between engines
    near scale-digit ties (Spark: exact BigDecimal expansion + HALF_UP;
    DuckDB: scale-multiply-then-round), but FLOOR of an identical double
    is identical everywhere;
  * AVG = (CAST(int_sum AS DOUBLE)/10^s)/count — IEEE divisions;
  * only genuinely iterative math (percentile interpolation, stddev sqrt,
    cosine) is rounded, at 6 digits.
"""

from __future__ import annotations

import dataclasses
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclasses.dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, doc: str = ""):
    def deco(fn):
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, sql=sql, doc=doc)
        return fn

    return deco


# Interior persist()s inside lazily-returned query plans (q160's oriented
# edges, q201's frequent pairs, q186's per-round BPE winners, ...) are
# load-bearing for performance — without them tree-shaped plans re-run
# a shared subquery once per consumer — but a long-lived session running
# all 186 queries (bench.py, the test suite) would otherwise accumulate
# every round's cached blocks and evict useful cache. Queries register
# their persists here; harness code calls release_scoped_caches() after
# materializing a query's result. unpersist() only drops cached blocks —
# a released plan still recomputes correctly if re-run.
_SCOPED_CACHES: list[DataFrame] = []


def scoped_persist(df: DataFrame, eager: bool = False) -> DataFrame:
    """``eager=True`` materializes the cache NOW (one count job). Use it
    when the consumers include broadcast-exchange branches: AQE runs
    each broadcast subtree as its own concurrent job, and N such jobs
    hitting a lazily-persisted frame all find the cache empty and each
    recompute the full upstream pipeline (measured on q160: five
    concurrent one-row consumers ≈ 5x the edge-build core-time). A
    sequential fill makes every consumer a cache read."""
    df = df.persist()
    if eager:
        df.count()
    _SCOPED_CACHES.append(df)
    return df


def release_scoped_caches() -> int:
    n = 0
    while _SCOPED_CACHES:
        df = _SCOPED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


# Schema memo: one parquet-footer inference per (data dir, table) per
# process; later loads pass the schema explicitly. This is METADATA
# memoization — the role a table catalog (metastore / Iceberg manifest)
# plays in production, where readers never re-infer schemas per query
# (guide §6: manifest metadata over directory inference). Measured on
# this host: an inferred spark.read.parquet resolves in ~80-95 ms
# (footer read + driver-side inference), an explicit-schema read in
# ~20 ms — across a 255-query bench run that is ~25 s of pure repeated
# inference of the SAME six immutable schemas. No data, no results and
# no plan fragments are memoized; every query still scans the parquet
# from disk.
_SCHEMA_MEMO: dict = {}


def load(spark: SparkSession, sf_dir: str, *tables: str) -> list[DataFrame]:
    from pyspark.sql import functions as F

    out = []
    for t in tables:
        if t == "events":
            # events.parquet carries TIMESTAMP(NANOS) columns, which Spark
            # refuses to read (PARQUET_TYPE_ILLEGAL) unless this legacy flag
            # is on. session.py sets it at build time, but the correctness
            # driver constructs its own vanilla session — a runtime
            # spark.conf.set works on an existing session, so set it here,
            # immediately before the read resolves the schema.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # `dir` and `dir/` name the same tables: one memo entry
        key = (os.path.normpath(sf_dir), t)
        sch = _SCHEMA_MEMO.get(key)
        if sch is None:
            df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
            _SCHEMA_MEMO[key] = df.schema
        else:
            df = spark.read.schema(sch).parquet(f"{sf_dir}/{t}.parquet")
        if t == "events" and dict(df.dtypes).get("ts") == "bigint":
            # events.parquet carries TIMESTAMP(NANOS) which Spark reads as
            # nanos-long under spark.sql.legacy.parquet.nanosAsLong (set in
            # session.py); truncate to micros (integer div — a double div
            # would lose precision above 2^53 ns).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        out.append(df)
    return out


# The external correctness driver iterates the registry dict in order and
# truncates after ~50 entries (time budget). Ordering is therefore a
# verification-scheduling decision: front-load the entries with the LEAST
# official evidence.
#
#   1. _VERIFY_FIRST — round-11 rotation (VERDICT r10 item 2): the
#      round-10 optimization rewrites whose correctness currently rests
#      only on builder-side hash-exact evidence (the r10 window was
#      fixed before the optimization wave ran), in the verdict's own
#      order; then the queries THIS round touches; then the remaining
#      r5/r6-stale tail. The 50 entries CORRECTNESS_r10 verified move
#      to the tail of _DRIVER_GREEN.
#   2. Everything else in import order — where NEW queries land
#      automatically (neither in the prefix nor in _DRIVER_GREEN).
#   3. _DRIVER_GREEN — entries hash-verified by a driver round and
#      untouched since, ordered stalest-first so future rotations keep
#      pulling from the head; a repeat truncation costs the least here
#      (the round-10 window sits at the very end — freshest evidence).
_VERIFY_FIRST = [
    # -- round-10 rewrite set (VERDICT r10 item 2 order): official
    #    oracle evidence for every r10-touched path. --
    "q160_triangle_count",
    "q169_bfs_khop",
    "q214_common_neighbors",
    "q215_k_core",
    "q125_copurchase_pairs",
    "q192_association_rules",
    "q201_apriori_triples",
    "q185_cluster_safe_split",
    "q255_suffix_span_dedup",
    "q133_dedup_survivors",
    "q85_dedup_clusters",
    "q65_ngram_jaccard_pairs",
    "q68_jaccard_capped_df",
    "q132_simhash_portable",
    "q141_bigram_lm_score",
    "q151_shingle_containment",
    "q87_contamination",
    "q91_passage_dedup",
    "q167_pq_adc_quality",
    "q168_ivfpq_topk",
    "q194_mmr_diverse_topk",
    "q106_minhash_lsh_recall",
    # -- round-11 optimization targets (touched this round; each needs
    #    fresh official evidence). --
    "q203_bpe_encode",
    "q186_bpe_train_rounds",
    "q189_textrank_keywords",
    "q136_substring_dedup",
    "q188_winnowing_pairs",
    # -- the r5-stale remainder: the r5 band slots past the r10
    #    truncation point, then the 9-entry r5 block that headed
    #    _DRIVER_GREEN (minus those already above). --
    "q161_incremental_join_view",
    "q162_ks_drift",
    "q163_cusum_changepoint",
    "q170_gram_matrix",
    "q176_pit_scd2_join",
    "q180_mad_outliers",
    "q182_vocab_growth",
    "q183_shingle_novelty",
    "q184_source_overlap_matrix",
    "q191_event_paths",
    "q193_conversion_lifetable",
    # -- the r6-stale head (oldest remaining driver evidence). --
    "q181_misra_gries_heavy_hitters",
    "q195_mixture_temperature",
    "q202_attribution_position_based",
    "q200_k_anonymity",
    "q196_curriculum_phases",
    "q197_filtered_ann_topk",
    "q187_pmi_collocations",
    "q190_lexical_gini",
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_group_stats",
    "q05_rollup",
    "q06_count_distinct",
    "q07_median_percentile",
]

_DRIVER_GREEN = [
    "q08_grouped_pandas_udaf",
    "q10_semi_join",
    "q11_anti_join",
    "q12_outer_join_coalesce",
    "q13_cogroup_counts",
    "q14_nonequi_self_join",
    "q20_window_topn_per_group",
    "q21_window_running_sum",
    "q22_window_lag_lead",
    "q23_top_items_global",
    "q24_ntile_percent_rank",
    "q30_union_distinct_intersect_except",
    "q31_drop_duplicates",
    "q40_string_funcs",
    "q41_date_funcs",
    "q43_null_scalars",
    "q44_string_funcs2",
    "q46_calendar_funcs",
    "q47_regexp_filter",
    "q55_above_group_avg",
    "q61_quality_features",
    "q62_lang_id",
    "q63_fingerprint",
    "q64_exact_dedup",
    "q80_prologue_routing",
    "q81_recipients_routing",
    "q82_audit_log",
    "q204_mrl_prefix_recall",
    "q205_dsir_selection",
    "q206_char_coverage",
    "q207_budget_mixture",
    "q208_l_diversity",
    "q209_repeat_epochs",
    "q210_line_filter",
    "q211_tokenizer_fertility",
    "q212_embedding_frechet",
    "q213_lag_autocorr",
    "q216_script_mix",
    "q217_theil_sen_trend",
    "q218_rendezvous_reshard",
    "q219_padding_waste",
    "q220_maxsim_late_interaction",
    "q221_rrf_fusion",
    "q225_distinct_ngrams",
    "q226_hard_negative_mining",
    "q227_retrieval_metrics",
    "q230_recency_weighted_mix",
    "q232_quantile_normalize",
    "q233_neyman_allocation",
    "q234_vocab_richness",
    "q235_dedup_roi",
    "q236_truncation_loss",
    "q237_lang_confusion",
    "q238_mixture_ess",
    "q241_burstiness",
    "q242_churn_labels",
    "q243_seasonality_profile",
    "q244_duplicate_delivery",
    "q245_syndication_matrix",
    "q246_peak_concurrency",
    "q247_ab_significance",
    "q248_cohort_ltv",
    "q249_revenue_waterfall",
    "q250_basket_dispersion",
    "q251_supplier_hhi",
    "q252_lorenz_deciles",
    "q228_benford_audit",
    "q239_spearman_rank_corr",
    "q83_payload_roundtrip",
    "q84_udf_quarantine",
    "q100_bloom_semi_join",
    "q101_theta_set_ops",
    "q103_quality_constraints",
    "q104_snapshot_diff",
    "q105_fuzzy_name_match",
    "q107_ann_quality",
    "q111_cdc_merge",
    "q112_negative_sampling",
    "q115_table_profile",
    "q116_latency_histogram",
    "q117_ab_experiment",
    "q118_mixture_resample",
    "q123_revenue_share_bp",
    "q127_hierarchy_depth",
    "q79_repetition_quality",
    "q86_hash_split",
    "q88_stratified_sample",
    "q89_heavy_hitters",
    "q90_sequence_packing",
    "q92_domain_mixture",
    "q93_pii_redaction",
    "q94_quality_filter",
    "q95_doc_chunking",
    "q96_lm_rarity_score",
    "q97_tfidf_top_terms",
    "q98_hll_distinct_rollup",
    "q99_kll_quantile_ranks",
    "q109_retention_cohorts",
    "q110_activity_runs",
    "q113_keep_latest",
    "q114_interval_overlap_join",
    "q119_growth_accounting",
    "q120_sliding_window_counts",
    "q122_anomalous_hours",
    "q124_funnel_windowed",
    "q126_bounce_rate",
    "q128_weighted_median",
    "q57_gap_fill",
    "q73_vector_norms_by_label",
    "q78_embedding_quantize",
    "q231_bootstrap_ci",
    "q240_split_leakage",
    "q09_arg_min_max",
    "q179_ewma_features",
    "q198_interval_coverage",
    "q199_attribution_last_touch",
    "q222_calibration_ece",
    "q223_ranking_auc",
    "q224_cohen_kappa",
    "q229_pr_threshold_sweep",
    "q04_conditional_agg",
    "q102_unpivot",
    "q131_trigger_upstream_batch",
    "q135_bm25_topk",
    "q138_vocab_coverage",
    "q143_skew_profile",
    "q15_asof_join",
    "q32_cube",
    "q34_window_range_frame",
    "q35_salted_join",
    "q42_math_funcs",
    "q45_array_agg",
    "q48_string_agg",
    "q49_corr_covar",
    "q50_events_hourly",
    "q51_sessionization",
    "q52_events_json_props",
    "q53_tumbling_window_batch",
    "q54_pivot",
    "q56_time_rollup_multigrain",
    "q60_token_stats",
    "q69_top_bigrams",
    "q75_embedding_centroids",
    "q76_binary_meta",
    "q77_bpe_token_count",
    "q253_incremental_distinct_view",
    "q254_stratified_min_sample",
    "q256_mann_whitney",
    "q257_bh_fdr",
    "q258_kaplan_meier",
    "q259_rolling_exact_distinct",
    "q260_asof_nearest_tolerance",
    "q261_fleiss_kappa",
    "q262_groupwise_ols",
    # -- last driver-checked round 10 (the freshest evidence:
    #    the r10 window = the 8 build-wave entries + q263 + the
    #    r4 band + the r5 band head, CORRECTNESS_r10 all green) --
    "q264_pii_audit",
    "q265_packing_planner",
    "q266_trigram_lm",
    "q267_edit_distance_verify",
    "q268_cuped_adjustment",
    "q269_chi_square_drift",
    "q270_js_divergence",
    "q271_secret_scan",
    "q263_page_hinkley",
    "q137_span_corruption",
    "q140_kmeans_assign",
    "q142_time_decay_score",
    "q147_incremental_rollup",
    "q148_transition_matrix",
    "q149_dau_mau",
    "q164_zorder_cells",
    "q165_countmin_freq",
    "q166_countmin_merge",
    "q171_power_iteration",
    "q172_lloyd_kmeans",
    "q173_bpe_merge_scores",
    "q174_text_normalize",
    "q175_cm_filtered_heavy_keys",
    "q177_grouping_sets",
    "q178_phrase_search",
    "q66_minhash_lsh_dedup",
    "q67_simhash_dedup",
    "q70_ann_bruteforce_topk",
    "q71_ann_lsh_topk",
    "q72_embedding_near_dups",
    "q74_ann_ivf_topk",
    "q108_event_funnel",
    "q121_centroid_similarity",
    "q129_minhash_bucket_table",
    "q130_interval_join_batch",
    "q134_semantic_dedup",
    "q139_psi_drift",
    "q144_inverted_index_topk",
    "q145_scd2_intervals",
    "q146_rolling_distinct_hll",
    "q150_length_outliers",
    "q152_pagerank",
    "q153_weighted_sample",
    "q154_time_weighted_avg",
    "q155_winsorize",
    "q156_token_entropy",
    "q157_int8_ann_topk",
    "q158_compaction_plan",
    "q159_zonemap_pruning",
]


def all_queries() -> dict[str, QuerySpec]:
    from klio_spark.queries import (  # noqa: F401
        behavior,
        vector_ops,
        training,
        curation,
        sketches,
        dataqual,
        extra,
        textops,
        scalars2,
        envelope_ops,
        advanced,
        relational,
        maintenance,
    )

    ordered: dict[str, QuerySpec] = {}
    for name in _VERIFY_FIRST:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    r2 = set(_DRIVER_GREEN)
    for name, spec in _REGISTRY.items():
        if name not in ordered and name not in r2:
            ordered[name] = spec
    for name in _DRIVER_GREEN:
        if name in _REGISTRY and name not in ordered:
            ordered[name] = _REGISTRY[name]
    return ordered
