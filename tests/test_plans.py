"""Physical-plan property tests: the scale story, locked in as assertions.

Each test pins a plan property a 1000-executor run depends on — pushdown,
pruning, broadcast choice, shuffle count. If a refactor regresses one of
these, the suite fails even though results stay correct.
"""

import re

import pytest
from pyspark.sql import functions as F

from klio_spark import plans
from klio_spark.queries import all_queries


@pytest.fixture(scope="module")
def specs():
    return all_queries()


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    """Plan-shape tests assert exchange counts, which change when an
    EARLIER test registered a shared subtree for caching (e.g. q185's
    edges.persist() marks the same ngram-pairs plan q65/q68 build, and
    Catalyst substitutes InMemoryRelation for the exchange). Clear the
    cache registry so every plan here is the cold-start plan the
    assertions describe."""
    spark.catalog.clearCache()
    yield


def test_q01_filter_pushed_to_scan(spark, sf_dir, specs):
    df = specs["q01_pricing_summary"].fn(spark, sf_dir)
    plans.assert_filter_pushed(df, "l_shipdate")


def test_q01_column_pruning(spark, sf_dir, specs):
    df = specs["q01_pricing_summary"].fn(spark, sf_dir)
    needed = {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }
    plans.assert_columns_pruned(df, needed)
    # 7 of 11 lineitem columns read, no more
    scans = plans.scan_columns(df)
    assert all(len(s) <= len(needed) for s in scans), scans


def test_q02_dims_broadcast_fact_not_shuffled_twice(spark, sf_dir, specs):
    df = specs["q02_revenue_by_nation"].fn(spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 3  # customer, nation, region
    # the only hash exchanges allowed: lineitem⋈orders keys + final agg
    assert plans.num_shuffles(df) <= 3, plans.plan_str(df)[:3000]


def test_q41_timestamp_predicate_pushed(spark, sf_dir, specs):
    df = specs["q41_date_funcs"].fn(spark, sf_dir)
    plans.assert_filter_pushed(df, "o_orderdate")


def test_q23_global_topk_avoids_full_sort(spark, sf_dir, specs):
    df = specs["q23_top_items_global"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert "TakeOrderedAndProject" in s, s[:2000]


def test_q20_topn_uses_window_group_limit(spark, sf_dir, specs):
    df = specs["q20_window_topn_per_group"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    # Spark 3.5+ rewrites rank<=k into WindowGroupLimit (per-partition top-k)
    assert "WindowGroupLimit" in s, s[:2000]


def test_q64_dedup_shuffles_digests_not_documents(spark, sf_dir, specs):
    df = specs["q64_exact_dedup"].fn(spark, sf_dir)
    scans = plans.scan_columns(df)
    # only doc_id+text are read...
    assert any(set(s) <= {"doc_id", "text"} for s in scans)
    # ...partial agg runs before the single exchange, and the exchange key
    # is the 32-byte digest (documents never cross the wire)
    s = plans.plan_str(df)
    assert plans.num_shuffles(df) == 1
    assert "partial_min" in s and "hashpartitioning(chash" in s


def test_q70_query_side_broadcast(spark, sf_dir, specs):
    df = specs["q70_ann_bruteforce_topk"].fn(spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 1  # corpus never shuffled


def test_prologue_is_single_codegen_scan(spark, sf_dir, specs):
    """The whole routing prologue (q80) stays in narrow, shuffle-free
    stages — klio's semantic filters at zero shuffle cost."""
    df = specs["q80_prologue_routing"].fn(spark, sf_dir)
    assert plans.num_shuffles(df) == 0, plans.plan_str(df)[:3000]


def test_envelope_filters_are_codegen(spark):
    from klio_spark import envelope as env
    from klio_spark.operators import filters

    df = env.from_elements(spark, [f"e{i}" for i in range(100)]).withColumn(
        "ping", F.length("element") > 2
    )
    split = filters.filter_ping(df)
    # a plain Filter over the source — no exchange, no UDF node
    # (with a LITERAL ping, catalyst constant-folds the filter away entirely)
    s = plans.plan_str(split.process)
    assert plans.num_shuffles(split.process) == 0
    assert "Filter" in s and "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_q57_gapfill_spine_and_dims_broadcast(spark, sf_dir, specs):
    """The hour spine and event-type dims are tiny at ANY corpus size, so
    both gap-fill joins must broadcast — the only real shuffle work is the
    hourly pre-aggregation (plus the two scalar/dim aggs)."""
    df = specs["q57_gap_fill"].fn(spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 2, plans.plan_str(df)[:3000]
    assert plans.num_shuffles(df) <= 3


def test_q86_hash_split_is_single_shuffle(spark, sf_dir, specs):
    """Deterministic split assignment is pure codegen expression work —
    the plan is scan → project → partial agg → ONE 3-group exchange."""
    df = specs["q86_hash_split"].fn(spark, sf_dir)
    assert plans.num_shuffles(df) == 1, plans.plan_str(df)[:3000]


def test_q78_quantize_scale_rides_broadcast(spark, sf_dir, specs):
    """The global max-abs scale must reach rows as a broadcast scalar —
    never a driver collect baked into the plan as a literal."""
    df = specs["q78_embedding_quantize"].fn(spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 1
    assert plans.num_shuffles(df) <= 2


def test_q79_repetition_aggs_have_partial_combine(spark, sf_dir, specs):
    """Token-count and doc-rollup aggs keep map-side partial aggregation
    (the shuffle carries combined counts, not raw token rows)."""
    df = specs["q79_repetition_quality"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert "partial_count" in s or "partial_sum" in s
    assert plans.num_shuffles(df) <= 3


def test_q87_eval_set_is_broadcast(spark, sf_dir, specs):
    """Contamination probe: the eval shingle set (KBs vs a TB corpus)
    must reach the corpus side as a broadcast hash join — the corpus is
    scanned once and never self-joined or shuffled by text."""
    df = specs["q87_contamination"].fn(spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 1, plans.plan_str(df)[:3000]


def test_q88_stratified_sample_is_single_shuffle(spark, sf_dir, specs):
    """Rate derivation + hash gating are pure row expressions; the only
    exchange is the final per-source agg."""
    df = specs["q88_stratified_sample"].fn(spark, sf_dir)
    assert plans.num_shuffles(df) == 1, plans.plan_str(df)[:3000]


def test_q89_heavy_hitters_topk_uses_window_group_limit(spark, sf_dir, specs):
    """rank<=5 over (source ordered by cnt) must rewrite to
    WindowGroupLimit so each partition pre-filters its top-k before the
    window sort — and the token agg keeps map-side partial combine."""
    df = specs["q89_heavy_hitters"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert "WindowGroupLimit" in s, s[:2000]
    assert "partial_count" in s


def test_q90_packing_agg_reuses_window_partitioning(spark, sf_dir, specs):
    """The running-sum window hash-partitions by source; the following
    (source, pack_id) agg's clustered-distribution requirement is
    satisfied by that same partitioning — ONE shuffle total, the plan a
    1000-executor packing job needs."""
    df = specs["q90_sequence_packing"].fn(spark, sf_dir)
    assert plans.num_shuffles(df) == 1, plans.plan_str(df)[:3000]


def test_q91_passage_dedup_shuffles_hashes_not_text(spark, sf_dir, specs):
    """Chunks are xxhash64'd to 8 bytes JVM-side before any exchange —
    no plan node carries passage text across the wire, and the
    recurrence agg has map-side partial combine."""
    df = specs["q91_passage_dedup"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert "hashpartitioning(chash" in s, s[:3000]
    assert "partial_count" in s


def test_q92_mixture_totals_ride_broadcast(spark, sf_dir, specs):
    """The corpus-total row joins back to per-source rows as a broadcast
    nested loop — never a driver collect baked in as a literal."""
    df = specs["q92_domain_mixture"].fn(spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 1, plans.plan_str(df)[:3000]


def test_q93_redaction_is_pure_codegen_single_shuffle(spark, sf_dir, specs):
    """PII scrub is JVM regexp only — no Python eval node anywhere in the
    plan, and the lone exchange is the per-source agg of four integers."""
    df = specs["q93_pii_redaction"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert "EvalPython" not in s, s[:2000]
    assert plans.num_shuffles(df) == 1, s[:3000]


def test_q94_quality_filter_single_shuffle(spark, sf_dir, specs):
    """Every verdict rule is a row expression; one agg exchange total."""
    df = specs["q94_quality_filter"].fn(spark, sf_dir)
    assert plans.num_shuffles(df) == 1, plans.plan_str(df)[:3000]


def test_q95_chunking_explode_collapses_in_stage(spark, sf_dir, specs):
    """The chunk-start explode fans out small integer rows and the
    doc-keyed agg gets map-side partial combine before the one exchange."""
    df = specs["q95_doc_chunking"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert plans.num_shuffles(df) == 1, s[:3000]
    assert "partial_count" in s or "partial_min" in s


def test_q96_vocab_weights_ride_broadcast(spark, sf_dir, specs):
    """The unigram weight table is lexicon-sized: it must come back to
    the corpus as broadcast joins (weights + total), never a sort-merge
    shuffle of the exploded corpus side."""
    df = specs["q96_lm_rarity_score"].fn(spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 2, plans.plan_str(df)[:3000]


def test_q97_tfidf_broadcast_idf_and_window_group_limit(spark, sf_dir, specs):
    """idf joins as broadcast; the per-source top-3 rewrites to
    WindowGroupLimit so partitions pre-filter before the window sort."""
    df = specs["q97_tfidf_top_terms"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert plans.broadcast_join_count(df) >= 1, s[:3000]
    assert "WindowGroupLimit" in s, s[:3000]


def test_q102_unpivot_is_expand_single_shuffle(spark, sf_dir, specs):
    """Melt compiles to one Expand node in the scan stage — no join, and
    the only exchange is the (brand, metric) aggregation."""
    df = specs["q102_unpivot"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert "Expand" in s, s[:2000]
    assert plans.num_shuffles(df) == 1, s[:3000]


def test_q103_constraints_fold_into_one_orders_agg(spark, sf_dir, specs):
    """All four single-table constraints ride ONE aggregation of orders —
    adding checks must not add scans (plus the FK anti-join's own read)."""
    df = specs["q103_quality_constraints"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert s.count("orders.parquet") <= 2, s[:3000]


def test_q104_diff_classes_all_present(spark, sf_dir, specs):
    rows = {r.change: r.n for r in specs["q104_snapshot_diff"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"added", "removed", "unchanged"}
    assert all(v > 0 for v in rows.values()), rows


def test_q105_fuzzy_match_is_blocked_equi_join(spark, sf_dir, specs):
    """The match join must be an equi join on the block key (hash/broadcast
    join, never BroadcastNestedLoopJoin/cartesian) and run over the
    deduped name dimension."""
    df = specs["q105_fuzzy_name_match"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert "NestedLoop" not in s and "Cartesian" not in s, s[:3000]


def test_q68_df_cut_shares_posting_exchange(spark, sf_dir, specs):
    """The hot-shingle df-cut must ride the SAME exchange the posting-list
    groupBy needs (count window on the shingle key), so the capped query
    shuffles exactly as often as the uncapped one: 2 KEYED exchanges.
    The guarded round-robin fan-out below the shingle UDF
    (plans/partitioning.fan_out_scan — fires only on an unsplittable
    scan, like this single-row-group test file) is not a keyed exchange
    and is counted separately: at most one, on both variants."""
    capped = specs["q68_jaccard_capped_df"].fn(spark, sf_dir)
    uncapped = specs["q65_ngram_jaccard_pairs"].fn(spark, sf_dir)
    for df in (capped, uncapped):
        s = plans.plan_str(df)
        import re

        total = plans.num_shuffles(df)
        rr = len(re.findall(r"Arguments: RoundRobinPartitioning", s))
        keyed = total - rr
        assert keyed == 2 and rr <= 1, s[:3000]
    assert plans.num_shuffles(capped) == plans.num_shuffles(uncapped), (
        plans.plan_str(capped)[:3000]
    )


def test_q136_substring_dedup_two_exchanges(spark, sf_dir, specs):
    """Position-level dedup: one exchange for the k-gram count window, one
    for the per-doc span windows; the run/span aggregations and the final
    per-doc join must NOT add shuffles (they reuse the doc partitioning /
    broadcast the tiny stats side)."""
    df = specs["q136_substring_dedup"].fn(spark, sf_dir)
    assert plans.num_shuffles(df) == 2, plans.plan_str(df)[:3000]
    assert plans.broadcast_join_count(df) >= 1


def test_q135_bm25_stats_ride_broadcasts(spark, sf_dir, specs):
    """Corpus stats (1 row) and the idf table (term-count rows) must reach
    the scoring join as broadcasts — never shuffled against the corpus."""
    df = specs["q135_bm25_topk"].fn(spark, sf_dir)
    assert plans.broadcast_join_count(df) >= 2, plans.plan_str(df)[:3000]


def test_simhash_candidates_stream_not_collect(spark, sf_dir, specs):
    """Simhash candidate generation must be a JOIN over the narrow block
    keys (spillable at any bucket size), never a collect_list expansion —
    a 6-8-bit block key's bucket row would grow O(corpus)."""
    df = specs["q67_simhash_dedup"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    # the strategy is the optimizer's call (broadcast at tiny SF, SMJ at
    # scale) — the locked property is join-vs-giant-row
    assert "Join" in s, s[:3000]
    assert "collect_list" not in s.lower(), s[:3000]


def test_q140_assignment_is_mapside_fold(spark, sf_dir, specs):
    """The nearest-centroid argmax must be a per-row fold over the
    broadcast centroid array — no Window rank (that formulation shuffles
    n×k scored rows) and no exchange keyed on vec_id anywhere."""
    df = specs["q140_kmeans_assign"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert "(1) Window" not in s and ") Window" not in s, s[:3000]
    assert "vec_id" not in s.lower().replace("read", ""), s[:3000]


def test_q144_index_query_prunes_buckets(spark, sf_dir, specs):
    """The conjunctive-query read of the persisted inverted index must
    scan only the buckets holding the query terms (bucket pruning on the
    IN filter), and the only exchange is the per-doc score agg."""
    df = specs["q144_inverted_index_topk"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert "Bucketed: true" in s, s[:3000]
    import re

    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", s)
    assert m and int(m.group(1)) < int(m.group(2)), s[:3000]
    assert plans.num_shuffles(df) == 1, s[:3000]


def test_q146_fact_aggregated_before_window_fanout(spark, sf_dir, specs):
    """The sketch arm must fan daily SKETCHES out to windows (≤7 rows per
    day), never raw events: the explode over the window ends has to sit
    above the daily hll_sketch_agg, so the shuffled volume is
    days×sketches, not events×7."""
    df = specs["q146_rolling_distinct_hll"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert "hll_sketch_agg" in s and "hll_union_agg" in s, s[:3000]


def test_q158_compaction_plan_one_exchange(spark, sf_dir, specs):
    """The planner shuffles file METADATA once: the per-source window sort
    and the bin aggregation must share the one hash exchange on source —
    a second exchange would mean the agg re-partitions what the window
    already clustered."""
    df = specs["q158_compaction_plan"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert s.count("Exchange hashpartitioning") <= 1, s[:3000]
    assert "Cartesian" not in s and "NestedLoop" not in s


def test_q159_zonemap_partial_scan_broadcasts(spark, sf_dir, specs):
    """The partial-block rescan must reach the fact rows via BROADCAST
    HASH semi-join on the tiny partial-block id set (never a shuffled
    join of the fact table against block stats). The single-row scalar
    frames (scan count, direct count) legitimately combine via broadcast
    nested-loop cross joins — 1-row build sides — so only a true
    CartesianProduct (both sides shuffled) is banned."""
    df = specs["q159_zonemap_pruning"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert "BroadcastHashJoin LeftSemi" in s, s[:3000]
    assert "CartesianProduct" not in s, s[:3000]


def test_minhash_cap_split_shares_band_exchange(spark, sf_dir, specs):
    """The round-4 bucket-width cap must not add an exchange: the count
    window, the narrow collect_list groupBy, and the wide self-join all
    consume the SAME hash exchange on the band key (persisted once). The
    wide branch must be a real equi join (spillable), never a nested
    loop."""
    from klio_spark.functions import dedup as dd

    (d,) = __import__("klio_spark.queries", fromlist=["load"]).load(
        spark, sf_dir, "documents"
    )
    df = dd.minhash_lsh_dedup(
        d, "text", "doc_id", threshold=0.3, bucket_cap=64
    )
    s = plans.plan_str(df)
    assert "Cartesian" not in s and "NestedLoop" not in s, s[:3000]
    # banded rows exchange on the band key at most twice across the whole
    # split (cache build + at most one downstream re-use), never once per
    # consumer
    assert s.count("Exchange hashpartitioning(_band") <= 2, s[:3000]


def test_q160_oriented_edges_cached_not_recomputed(spark, sf_dir, specs):
    """All four consumers of the oriented edge list (edge count, both
    wedge-join sides, closing-edge probe) must read the SAME cached
    frame — without the persist the basket self-join re-runs once per
    consumer (a measured 107-shuffle plan)."""
    df = specs["q160_triangle_count"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    assert s.count("InMemoryTableScan") >= 4, s[:3000]


def test_pagerank_broadcast_lever_forced_shuffle_identical(spark, sf_dir):
    """q152's per-iteration score broadcast is a LEVER, not a hard-coded
    hint (pagerank_topk broadcast_scores=True|False|'auto'): on a graph
    whose node set outgrows broadcast, False runs the same declared plan
    as a shuffle hash join on the node key. Asserts (a) the forced-
    shuffle plan really contains a ShuffledHashJoin and one fewer
    broadcast than the hinted plan, (b) the two paths are row-for-row
    identical — only the physical strategy moves."""
    from klio_spark.queries.advanced import pagerank_topk

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hinted = pagerank_topk(l, iters=1, broadcast_scores=True)
    shuffled = pagerank_topk(l, iters=1, broadcast_scores=False)
    p_hint = hinted._jdf.queryExecution().executedPlan().toString()
    p_shuf = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in p_shuf
    assert p_hint.count("BroadcastHashJoin") > p_shuf.count(
        "BroadcastHashJoin"
    )
    got_h = [(r["partkey"], r["score_ppb"]) for r in hinted.collect()]
    got_s = [(r["partkey"], r["score_ppb"]) for r in shuffled.collect()]
    assert got_h == got_s and len(got_h) == 20


def test_textrank_broadcast_lever_forced_shuffle_identical(spark, sf_dir):
    """q189's per-iteration score broadcast carries the same lever as
    pagerank_topk: broadcast_scores=False runs the weighted score join
    as a shuffle hash join, row-identically."""
    from klio_spark.queries.textops import textrank_keywords

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hinted = textrank_keywords(d, iters=1, broadcast_scores=True)
    shuffled = textrank_keywords(d, iters=1, broadcast_scores=False)
    p_shuf = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in p_shuf
    got_h = [(r["word"], r["score_ppb"]) for r in hinted.collect()]
    got_s = [(r["word"], r["score_ppb"]) for r in shuffled.collect()]
    assert got_h == got_s and len(got_h) == 20


def test_q259_dedup_before_window_fanout(spark, sf_dir, specs):
    """The scalable identity q259 exists for: the (user, day) DISTINCT
    aggregation must sit BELOW the 7-day explode, so the fan-out
    multiplies the deduped pair table (users x days), never raw
    events. In the numbered plan tree the Generate's node id must be
    above the lowest exchange (the dedup shuffle)."""
    import re

    df = specs["q259_rolling_exact_distinct"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    gen = re.search(r"\((\d+)\) Generate", s)
    exchanges = [int(m) for m in re.findall(r"\((\d+)\) Exchange", s)]
    assert gen and exchanges, s[:2000]
    assert int(gen.group(1)) > min(exchanges), (
        "explode sits below the dedup exchange — raw events would fan "
        "out 7x through the shuffle:\n" + s[:3000]
    )


def test_q263_three_windows_share_one_exchange(spark, sf_dir, specs):
    """Page-Hinkley's three stacked prefix windows (sum/count -> dev
    sum -> prefix min) must ride ONE (event_type) exchange and sort —
    re-partitioning between them would triple the shuffle volume of a
    sequential statistic."""
    import re

    df = specs["q263_page_hinkley"].fn(spark, sf_dir)
    s = plans.plan_str(df)
    n_exchange = len(re.findall(r"\(\d+\) Exchange", s))
    n_window = len(re.findall(r"\(\d+\) Window", s))
    n_sort = len(re.findall(r"\(\d+\) Sort", s))
    assert n_window == 3, s[:3000]
    assert n_exchange == 1, s[:3000]
    assert n_sort == 1, s[:3000]


def _node_counts(s):
    import re

    return {
        k: len(re.findall(rf"\(\d+\) {k}", s))
        for k in ("Exchange", "Generate", "Window", "InMemoryTableScan")
    }


@pytest.mark.parametrize(
    "name",
    ["q264_pii_audit", "q265_packing_planner", "q271_secret_scan"],
)
def test_r10_scan_classifiers_single_exchange(spark, sf_dir, specs, name):
    """The three round-10 scan-classify-aggregate queries (PII audit,
    packing planner, secret scan) are designed as ONE corpus scan into
    ONE hash aggregate: no window, no explode, a single (source[,
    class]) exchange. At 100 TB the scan dominates and nothing else is
    allowed to appear."""
    df = specs[name].fn(spark, sf_dir)
    c = _node_counts(plans.plan_str(df))
    assert c["Exchange"] == 1, (name, c)
    assert c["Window"] == 0 and c["Generate"] == 0, (name, c)


def test_q266_trigram_model_tables_cached_not_rederived(spark, sf_dir, specs):
    """q266's marginal statistics must never re-derive the corpus
    explode. Since the r10 optimization round the four conditional
    marginals (c12/c23/c2/c3) are UNORDERED WINDOW SUMS chained on the
    cached lexicon stream (identical integer sums, no marginal agg
    tables, no joins — profiled ~x0.7), so the lock is: exactly FOUR
    Window nodes, at most TWO Generates (one building the cached
    per-doc table, one on the per-doc scoring branch), and the
    remaining consumers (N total + window chain + per-doc rejoin)
    still read the cache."""
    df = specs["q266_trigram_lm"].fn(spark, sf_dir)
    c = _node_counts(plans.plan_str(df))
    assert c["Window"] == 4, c
    assert c["InMemoryTableScan"] >= 3, c
    assert c["Generate"] <= 2, c


def test_q270_token_explode_runs_once(spark, sf_dir, specs):
    """q270 derives corpus totals, per-source totals, per-token mass
    and the JSD join all from ONE persisted token-count table; the
    regenerated-plan audit caught the pre-persist shape re-running the
    corpus explode 5x. Lock: exactly one Generate, >= 4 cache reads."""
    df = specs["q270_js_divergence"].fn(spark, sf_dir)
    c = _node_counts(plans.plan_str(df))
    assert c["Generate"] == 1, c
    assert c["InMemoryTableScan"] >= 4, c


def test_q267_rare_gram_table_built_once(spark, sf_dir, specs):
    """q267's candidate pairs expand from per-gram posting lists on the
    count window's OWN _kh exchange: exactly one shingle explode over
    the corpus (a self-join would rebuild it per side — double the
    corpus scan at 100 TB), the two pair explodes ride the bucket
    stage, and no cache is needed (zero InMemoryTableScan)."""
    df = specs["q267_edit_distance_verify"].fn(spark, sf_dir)
    c = _node_counts(plans.plan_str(df))
    assert c["Generate"] == 3, c
    assert c["InMemoryTableScan"] == 0, c
    assert c["Window"] == 1, c


def test_q268_covariate_frame_cached(spark, sf_dir, specs):
    """q268's CUPED moments and the adjusted metric both read the
    per-user pre/post frame; the frame persists once (two cache reads,
    zero windows — five abelian moments, no ordered state)."""
    df = specs["q268_cuped_adjustment"].fn(spark, sf_dir)
    c = _node_counts(plans.plan_str(df))
    assert c["InMemoryTableScan"] >= 2, c
    assert c["Window"] == 0, c


def test_q269_windows_ride_cell_frame(spark, sf_dir, specs):
    """q269's three windows run over the chi-square CELL table
    (<= event_types x 7 rows), never the raw events: two exchanges
    (event agg -> cell agg), three windows on the tiny frame."""
    df = specs["q269_chi_square_drift"].fn(spark, sf_dir)
    c = _node_counts(plans.plan_str(df))
    assert c["Window"] == 3, c
    assert c["Exchange"] <= 2, c


# -- the klio job path: one pass per op -----------------------------------

@pytest.fixture()
def audio_job(spark, tmp_path):
    """examples/audio-features staged with a data output, so both
    existence listings join, and JSON-wire events, so ping / force /
    version are data rather than constants Catalyst folds away:
    (config, events, the example module)."""
    import importlib.util
    import json
    import os
    import shutil

    from klio_spark import cli
    from klio_spark.audio import dsp
    from klio_spark.sources import read_event_input

    job = tmp_path / "job"
    example = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples", "audio-features",
    )
    shutil.copytree(example, job)
    for d in ("input", "audio", "done"):
        (job / d).mkdir()
    (job / "input" / "track_ids.txt").write_text("".join(
        json.dumps({"element": el, "version": 2, "force": force, "ping": ping,
                    "recipients_mode": "anyone", "job_audit_log": []}) + "\n"
        for el, force, ping in [("t0", False, False), ("t1", False, True),
                                ("t2", True, False), ("missing", False, False)]
    ))
    for i in range(3):
        (job / "audio" / f"t{i}.wav").write_bytes(
            dsp.synth_wav([330.0 * (i + 1)], 0.1, 8000, seed=i)
        )
    (job / "done" / "t2.npy").write_bytes(b"x")
    yaml = (job / "klio-job.yaml").read_text()
    (job / "klio-job.yaml").write_text(
        yaml.replace("location: input/track_ids.txt",
                     "location: input/track_ids.txt\n        wire: true"))
    with open(job / "klio-job.yaml", "a") as f:
        f.write("    outputs:\n      - type: file\n        location: done\n"
                "        file_suffix: .npy\n")
    _, config = cli._build(str(job / "klio-job.yaml"))
    spec = importlib.util.spec_from_file_location("audio_run", job / "run.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return config, read_event_input(spark, config.event_inputs[0]), mod


def test_job_prologue_scans_events_once_per_branch(spark, audio_job):
    """The prologue is one tagged stream: `process` reads the event
    source once, and the event write (process ∪ pass_thru) at most
    twice — no branch re-derives another through a union."""
    from klio_spark.operators import run_pipeline, setup_prologue

    config, events, _ = audio_job
    process = setup_prologue(events, config, spark).process
    s = plans.plan_str(process, "simple")
    assert s.count("FileScan text") == 1, s
    out = run_pipeline(events, config, lambda df, cfg: df, spark)
    s = plans.plan_str(out, "simple")
    assert s.count("FileScan text") <= 2, s
    assert plans.num_shuffles(out) == 0, s


def test_audio_features_one_python_pass_no_join(spark, audio_job):
    """The example's feature write: one MapInPandas reads the requested
    blobs and one computes mel and MFCC together, nothing joins or
    shuffles after them, and the only binaryFile scans are the
    prologue's two metadata listings (data input and data output)."""
    from klio_spark.operators import setup_prologue

    config, events, mod = audio_job
    feats = mod.features(setup_prologue(events, config, spark).process, config)
    s = plans.plan_str(feats, "simple")
    python_nodes = re.findall(
        r"MapInPandas|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas", s)
    assert python_nodes == ["MapInPandas", "MapInPandas"], s
    above = s[: s.rindex("MapInPandas")]
    assert "Join" not in above and "Exchange" not in above, s
    scans = re.findall(r"FileScan binaryFile .*", s)
    assert len(scans) == 2, s
    assert not any("content" in scan.split("ReadSchema:")[1] for scan in scans), s
