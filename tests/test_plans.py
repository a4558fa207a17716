"""Plan-shape assertions: the efficiency properties are tested, not hoped.

Each check encodes a 100 TB survival property: filters reach the parquet
scan, projections prune the read schema, dimension joins broadcast, big aggs
get map-side partials, nothing falls back to a cartesian product.  The
last two tests sweep these properties over epoch repeats, CUSUM, the
cosine pair histogram and the integer PCA, and over the sampling, KL,
DSIR, BM25, HLL, outlier and sweep operators.
"""

from pyspark.sql import functions as F

from mysql_cdc_debezium_starrocks_spark.operators.cdc_queries import cdc_apply
from mysql_cdc_debezium_starrocks_spark.operators.relational import (
    filter_eq,
    join_dims_broadcast,
    q1_pricing_summary,
    q3_shipping_priority,
    q5_region_revenue,
)
from mysql_cdc_debezium_starrocks_spark.operators.similarity import ann_ivf_topk
from mysql_cdc_debezium_starrocks_spark.operators.temporal import join_asof, join_range
from mysql_cdc_debezium_starrocks_spark.plans import (
    broadcasts,
    codegen_stages,
    has_cartesian,
    partial_aggregates,
    plan_of,
    prunes_columns,
    pushes_filters,
    shuffle_count,
)

from .conftest import SF_SMOKE


def test_q1_scan_agg_shape(spark):
    df = q1_pricing_summary(spark, SF_SMOKE)
    p = plan_of(df)
    assert pushes_filters(p), "shipdate predicate must reach the parquet scan"
    assert prunes_columns(p, 7), "q1 must not read the full 16-col lineitem"
    assert partial_aggregates(p), "sums must be map-side partial"
    assert shuffle_count(p) == 1, "q1 is a one-shuffle query"
    # codegen subtrees are only visible pre-execution with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert codegen_stages(q1_pricing_summary(spark, SF_SMOKE)) >= 1, (
            "scan-agg must fuse into whole-stage codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q3_broadcasts_customer(spark):
    p = plan_of(q3_shipping_priority(spark, SF_SMOKE))
    assert broadcasts(p), "filtered customer dim must broadcast"
    assert not has_cartesian(p)
    assert pushes_filters(p)


def test_q5_star_join_no_cartesian(spark):
    p = plan_of(q5_region_revenue(spark, SF_SMOKE))
    assert broadcasts(p), "dims must broadcast in the star join"
    assert not has_cartesian(p)
    # only the fact-fact join and the final agg shuffle remain
    assert shuffle_count(p) <= 3


def test_filter_pushdown_and_pruning(spark):
    p = plan_of(filter_eq(spark, SF_SMOKE))
    assert pushes_filters(p)
    assert prunes_columns(p, 4), "projection must prune the orders scan"


def test_dim_join_is_broadcast(spark):
    p = plan_of(join_dims_broadcast(spark, SF_SMOKE))
    assert broadcasts(p)
    assert not has_cartesian(p)


def test_cdc_apply_is_partial_aggregatable(spark):
    """The LWW reduction must be max_by partial-agg, not a ranking window —
    the difference between shuffling one row per key per partition and
    shuffling the whole event log."""
    p = plan_of(cdc_apply(spark, SF_SMOKE))
    assert partial_aggregates(p), "last-write-wins must use partial max_by"
    assert "Window" not in p, "no ranking-window fallback in the hot path"


def test_asof_join_is_union_window_single_shuffle(spark):
    """The as-of join must be the union-and-carry-forward shape: one shuffle
    on the key, no inequality join explosion."""
    p = plan_of(join_asof(spark, SF_SMOKE))
    assert not has_cartesian(p)
    assert "BroadcastNestedLoopJoin" not in p, "no pairwise time-range join"
    assert shuffle_count(p) == 1, p


def test_asof_nearest_is_one_shuffle_two_windows(spark):
    """The nearest as-of join must keep the union-and-carry shape — ONE
    shuffle on the key serving BOTH direction windows over the same sort,
    no inequality-join explosion."""
    from mysql_cdc_debezium_starrocks_spark.operators.temporal import (
        join_asof_nearest,
    )

    p = plan_of(join_asof_nearest(spark, SF_SMOKE))
    assert not has_cartesian(p)
    assert "BroadcastNestedLoopJoin" not in p, "no pairwise time-range join"
    assert shuffle_count(p) == 1, p
    assert p.count("Window") >= 1  # both carries ride window evaluation


def test_dim_budget_recall_broadcasts_queries_one_corpus_pass(spark):
    """The dim-budget gate must score all budgets in ONE corpus x queries
    pass: the query side broadcasts, the corpus side is scanned a bounded
    number of times (truth + scoring legs), never once per budget."""
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        DIM_BUDGETS,
        ann_bruteforce_topk,
        emb_dim_budget_recall,
    )

    # session behavior: truth ("ann_truth") is memoized once, so the gate's
    # own plan adds only the scoring pass — warm it like a session would
    ann_bruteforce_topk(spark, SF_SMOKE).count()
    p = plan_of(emb_dim_budget_recall(spark, SF_SMOKE))
    assert broadcasts(p), "query side must broadcast"
    assert not has_cartesian(p)
    # DISTINCT scan nodes (the formatted tree repeats references): base +
    # query legs; the truth legs read the memoized artifact
    # (InMemoryTableScan).  The bound is a CONSTANT — per-budget rescans
    # would add two scan nodes per budget.
    import re

    scans = len(set(re.findall(r"\((\d+)\) Scan parquet", p)))
    assert scans <= 4, f"{scans} corpus scans: budgets must not each rescan"
    assert scans < 2 * len(DIM_BUDGETS)
    assert "InMemoryTableScan" in p, "truth must come from the session memo"


def test_range_join_broadcasts_bands(spark):
    """Band join: tiny bands side broadcast, events stream through map-only —
    the only shuffle is the final 5-group aggregation."""
    p = plan_of(join_range(spark, SF_SMOKE))
    assert not has_cartesian(p)
    assert "BroadcastNestedLoopJoin" in p, "range predicate join must broadcast bands"
    assert shuffle_count(p) == 1, p


def test_ivf_assignment_is_partial_agg(spark):
    """IVF cell assignment must be map-side-combining max_by (one row per
    vector through the wire), with centroids broadcast."""
    p = plan_of(ann_ivf_topk(spark, SF_SMOKE))
    assert partial_aggregates(p), "cell argmax must be partial max_by"
    assert broadcasts(p)
    assert not has_cartesian(p)


def test_covariance_shuffles_only_partials(spark):
    """emb_covariance's exchanges move partition partials (O(parts * d^2)
    doubles), never the data: every shuffle sits above the mapInPandas."""
    from mysql_cdc_debezium_starrocks_spark.operators.linalg import emb_covariance

    df = emb_covariance(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "FlatMapGroupsInPandas" not in plan  # mapInPandas, not grouped
    assert not has_cartesian(plan)
    assert broadcasts(plan)  # sums/totals join back as broadcasts
    assert partial_aggregates(plan)  # per-index sums partial-agg


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval gram set must broadcast: the training corpus side streams
    through a BroadcastHashJoin, then one partial-agg'd per-doc count."""
    from mysql_cdc_debezium_starrocks_spark.operators.text import text_decontaminate

    plan = plan_of(text_decontaminate(spark, SF_SMOKE))
    assert broadcasts(plan)
    assert not has_cartesian(plan)
    assert partial_aggregates(plan)


def test_corpus_curate_removals_are_anti_joins(spark):
    """Every exclusion list applies as a (broadcastable) anti join — the
    corpus never shuffles on its own bulk."""
    from mysql_cdc_debezium_starrocks_spark.operators.text import corpus_curate

    plan = plan_of(corpus_curate(spark, SF_SMOKE))
    assert plan.count("LeftAnti") >= 2  # dup removals + contamination
    assert not has_cartesian(plan)


def test_reservoir_sample_uses_window_group_limit(spark):
    """rank<=k over the per-stratum window must trigger WindowGroupLimit
    pushdown: each task keeps k rows per group pre-shuffle, so no stratum
    is ever fully sorted/materialized."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        sample_reservoir_per_source,
    )

    plan = plan_of(sample_reservoir_per_source(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan


def test_mix_sample_apply_broadcasts_rates(spark):
    """The per-source rate table joins back by broadcast — the corpus side
    must not shuffle for the join."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import mix_sample_apply

    plan = plan_of(mix_sample_apply(spark, SF_SMOKE))
    assert broadcasts(plan)
    assert not has_cartesian(plan)


def test_passage_dedup_shuffles_hashes_not_text(spark):
    """Both wide exchanges of the passage profile must key on the 8-byte
    chunk hash, never the chunk text."""
    from mysql_cdc_debezium_starrocks_spark.operators.dedup import (
        dedup_passage_exact,
    )

    plan = plan_of(dedup_passage_exact(spark, SF_SMOKE))
    assert "hashpartitioning(ch" in plan, "exchanges must key on the hash column"
    assert "hashpartitioning(chunk" not in plan
    assert partial_aggregates(plan)


def test_range_frame_window_single_shuffle(spark):
    """The RANGE-frame rolling revenue is one exchange on l_suppkey plus a
    sorted window — no self-join, no cartesian."""
    from mysql_cdc_debezium_starrocks_spark.operators.relational import (
        window_range_rolling_revenue,
    )

    plan = plan_of(window_range_rolling_revenue(spark, SF_SMOKE))
    assert not has_cartesian(plan)
    assert shuffle_count(plan) == 1
    assert "specifiedwindowframe(RangeFrame" in plan or "RANGE" in plan


def test_range_search_has_no_window(spark):
    """Radius search must filter inside the broadcast-join stage — no
    ranking window, no sort in the plan."""
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        ann_range_search,
    )

    plan = plan_of(ann_range_search(spark, SF_SMOKE))
    assert broadcasts(plan)
    assert "Window" not in plan
    assert "Sort" not in plan.replace("SortMergeJoin", "")


def test_centroid_is_partial_agg(spark):
    """Per-label centroids reduce via map-side partials on (label, dim)."""
    from mysql_cdc_debezium_starrocks_spark.operators.linalg import (
        emb_centroid_by_label,
    )

    plan = plan_of(emb_centroid_by_label(spark, SF_SMOKE))
    assert partial_aggregates(plan)
    assert shuffle_count(plan) <= 2  # fixture spread + the agg exchange


def test_argmax_top1_is_partial_agg_no_window(spark):
    """max_by top-1-per-group must plan as a partial-aggregated hash agg —
    no ranking window, one exchange on the group key."""
    from mysql_cdc_debezium_starrocks_spark.operators.relational_ext import (
        agg_top1_per_group_argmax,
    )

    plan = plan_of(agg_top1_per_group_argmax(spark, SF_SMOKE))
    assert partial_aggregates(plan)
    assert "Window" not in plan
    assert shuffle_count(plan) == 1


def test_logreg_gradient_is_one_partial_agg(spark):
    """Each GD iteration must shuffle only O(tasks) longs: a single
    map-side-combined aggregate, no Python UDFs, no extra exchanges."""
    from mysql_cdc_debezium_starrocks_spark.operators.ml import (
        _features_df,
        gradient_agg,
    )

    f = _features_df(spark, SF_SMOKE)
    p = plan_of(gradient_agg(f, {"b": 0.1, "w1": 0.2, "w2": 0.3, "w3": 0.4}))
    assert partial_aggregates(p)
    # one exchange is load_spread's fixture-split repartition (absent on a
    # real multi-split layout); the aggregate itself adds exactly one more
    assert shuffle_count(p) <= 2, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert not has_cartesian(p)


def test_perplexity_rides_token_artifact_and_partial_aggs(spark):
    """text_perplexity's corpus passes ride the shared "doc_tokens"
    artifact (r09): the tf and vocab branches both read the memoized
    token stream, so the consumer plan re-reads NO parquet — any parquet
    document scan creeping back in means a branch stopped sharing the
    tokenization (the r08 shape paid two corpus scans per invocation).
    Both aggregations must still partial-agg map-side."""
    from mysql_cdc_debezium_starrocks_spark.operators.text import text_perplexity
    from mysql_cdc_debezium_starrocks_spark.plans import scan_count

    p = plan_of(text_perplexity(spark, SF_SMOKE))
    # ONE parquet scan id may remain: the cached InMemoryRelation prints
    # its build plan (the artifact's single tokenization scan — not
    # re-executed on read).  A second distinct scan id means a branch
    # re-reads the corpus live.
    assert scan_count(p) <= 1, f"live corpus re-read, plan:\n{p[:2000]}"
    assert "InMemoryTableScan" in p, f"token artifact not cached:\n{p[:2000]}"
    assert partial_aggregates(p)
    assert not has_cartesian(p)


def test_theta_sketch_bounded_state(spark):
    """The theta intersection moves only hashes after the first projection
    (no raw user ids through the sketch shuffles) and keeps map-side
    partials on the distinct-pair reduction; the only nested-loop joins are
    1-row scalar broadcasts."""
    from mysql_cdc_debezium_starrocks_spark.operators.sketches import (
        sketch_theta_intersect,
    )

    p = plan_of(sketch_theta_intersect(spark, SF_SMOKE))
    assert partial_aggregates(p)
    assert not has_cartesian(p)


def test_advisor_flags_antipatterns(spark):
    """The plan linter catches a deliberate cartesian + row-Python-UDF plan
    and passes the engine's own clean scan-agg."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    from mysql_cdc_debezium_starrocks_spark.plans.advisor import advise

    bad_udf = udf(lambda x: x + 1, LongType())
    a = spark.range(100).withColumnRenamed("id", "a")
    b = spark.range(100).withColumnRenamed("id", "b")
    bad = a.crossJoin(b).withColumn("c", bad_udf(a["a"]))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rules = {w["rule"] for w in advise(bad)}
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "cartesian-product" in rules
    assert "row-python-udf" in rules

    clean = q1_pricing_summary(spark, SF_SMOKE)
    errors = [w for w in advise(clean) if w["severity"] == "error"]
    assert errors == [], errors


def test_salted_agg_is_two_phase_partial(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.relational_ext import (
        join_skew_salted,
    )

    p = plan_of(join_skew_salted(spark, SF_SMOKE))
    assert partial_aggregates(p), "phase-1 sums must combine map-side"
    assert shuffle_count(p) == 2, "salted agg is exactly pre-agg + final"
    assert not has_cartesian(p)


def test_url_dedup_is_single_shuffle(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.text import text_url_dedup

    p = plan_of(text_url_dedup(spark, SF_SMOKE))
    # 2 = the load_spread fixture-spreading repartition + the ONE hash
    # groupBy; the whole canonicalization pipeline itself is map-only
    assert shuffle_count(p) == 2, "canonicalize is map-only; one hash groupBy"
    assert partial_aggregates(p)


def test_ivfpq_scores_via_broadcasts(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        ann_ivfpq_search,
    )

    p = plan_of(ann_ivfpq_search(spark, SF_SMOKE))
    assert broadcasts(p), "probe list and ADC tables must broadcast"
    assert not has_cartesian(p)


def test_ewma_no_cartesian(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.temporal import ts_ewma

    p = plan_of(ts_ewma(spark, SF_SMOKE))
    assert not has_cartesian(p)
    assert partial_aggregates(p), "per-user tail position reduces map-side"


def test_pmi_pairs_map_side_no_self_join(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.stats import text_pmi_cooccur

    p = plan_of(text_pmi_cooccur(spark, SF_SMOKE))
    assert not has_cartesian(p)
    # pair generation is shifted-zip explode (map-side), so the only
    # data-scale shuffles are the two count partial-aggs; the unigram
    # lookups ride vocab-bounded joins
    assert partial_aggregates(p), "pair/unigram counts must combine map-side"
    assert "SortMergeJoin" not in p or broadcasts(p)


def test_ks_drift_windows_are_source_partitioned(spark):
    from mysql_cdc_debezium_starrocks_spark.operators.stats import stats_ks_by_source

    p = plan_of(stats_ks_by_source(spark, SF_SMOKE))
    assert not has_cartesian(p) or broadcasts(p)  # histogram-scale grid only
    assert partial_aggregates(p), "histogram reduction must combine map-side"
    # no partition-less window: every windowspecdefinition must lead with a
    # partition column (an unpartitioned spec starts straight at the sort
    # spec, i.e. its first argument carries ASC/DESC)
    import re

    specs = re.findall(r"windowspecdefinition\(([^,]+),", p)
    assert specs, "expected window specs in the KS plan"
    for first_arg in specs:
        assert " ASC" not in first_arg and " DESC" not in first_arg, (
            f"partition-less window spec: starts with sort expr {first_arg!r}"
        )


def test_advisor_sweep_no_errors_across_registry(spark):
    """Registry-wide anti-pattern gate: every driver-facing query's physical
    plan must be free of error-severity advisor findings (cartesian
    products, row-at-a-time Python UDFs) — the same checks test_plans pins
    for individual queries, enforced for every future operator by default."""
    import __spark_entry__ as se
    from mysql_cdc_debezium_starrocks_spark.plans.advisor import advise

    bad = {}
    for name, fn in se.queries().items():
        errors = [w for w in advise(fn(spark, SF_SMOKE))
                  if w["severity"] == "error"]
        if errors:
            bad[name] = [w["rule"] for w in errors]
    assert not bad, bad


def test_vocab_margins_have_no_global_window(spark):
    """The corpus totals in text_perplexity / stats_kl_by_source must ride
    a 1-row agg over the persisted vocab artifact broadcast back with a
    crossJoin — never an unpartitioned window, which funnels the entire
    vocabulary through one task (r06 verdict #5; minutes of serial time at
    a web-scale 10^8-term vocab)."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        stats_kl_by_source,
    )
    from mysql_cdc_debezium_starrocks_spark.operators.text import (
        text_perplexity,
    )

    for fn in (text_perplexity, stats_kl_by_source):
        p = plan_of(fn(spark, SF_SMOKE))
        assert "Window" not in p, (
            f"{fn.__name__} plan has a window:\n{p[:1500]}"
        )
        assert not has_cartesian(p)


def test_token_budget_window_is_sub_partitioned(spark):
    """The token-budget prefix sum must never run a per-source-only window
    over the document-scale frame (r07 verdict #1: with single-digit
    source cardinality that is a data-scale ONE-task sort at 100x).  The
    rewrite splits each source's priority order across range partitions
    and keys the running-sum window by (pid, source); the only
    source-only window left rides the bounded |sources| x P psums agg,
    whose ORDER column is pid.  Gate: every windowspecdefinition that
    orders by the document priority (pri) must also partition by pid, and
    the per-source bucket offsets must come back via a broadcast join."""
    import re

    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        mix_budget_report,
        sample_token_budget,
    )

    for fn in (sample_token_budget, mix_budget_report):
        p = plan_of(fn(spark, SF_SMOKE))
        specs = re.findall(r"windowspecdefinition\([^)]*\)", p)
        assert specs, f"{fn.__name__}: expected window specs in plan"
        for s in specs:
            if "pri#" in s:
                assert "pid#" in s, (
                    f"{fn.__name__}: doc-scale window not sub-partitioned "
                    f"by pid: {s}"
                )
        assert broadcasts(p) >= 1, (
            f"{fn.__name__}: bucket offsets must broadcast back"
        )
        assert not has_cartesian(p)


def test_packing_window_is_sub_partitioned(spark):
    """The concat-pack family's per-source running sum must never be a
    source-only window over the document-scale frame (the same r07-verdict
    shape the token-budget sampler shed; packing was the longer-standing
    watch).  The rewrite buckets deterministically on the id range and
    keys the doc-scale window by (_bkt, source); the only source-only
    window left rides the bounded bucket-sums side frame, ordered by _bkt.
    Gate: every windowspecdefinition that orders by doc_id must also
    partition by _bkt, and the bucket offsets must come back broadcast."""
    import re

    from mysql_cdc_debezium_starrocks_spark.operators.packing import (
        eval_pack_efficiency,
        pack_concat_chunks,
    )

    for fn in (pack_concat_chunks, eval_pack_efficiency):
        p = plan_of(fn(spark, SF_SMOKE))
        specs = re.findall(r"windowspecdefinition\([^)]*\)", p)
        assert specs, f"{fn.__name__}: expected window specs in plan"
        for s in specs:
            if "doc_id#" in s:
                assert "_bkt#" in s, (
                    f"{fn.__name__}: doc-scale window not sub-partitioned "
                    f"by _bkt: {s}"
                )
        assert broadcasts(p) >= 1, (
            f"{fn.__name__}: bucket offsets must broadcast back"
        )
        assert not has_cartesian(p)


def test_doc_len_profile_ranks_histogram_not_docs(spark):
    """stats_doc_len_profile must select its order statistics from the
    per-source LENGTH HISTOGRAM cumulative, never rank the raw docs
    (row_number over a low-cardinality source partition = a data-scale
    hot partition at 100x).  Gate: no row_number in the plan, the window
    input is an aggregated frame (>= 2 hash aggregates below), and the
    per-source totals come back broadcast."""
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        stats_doc_len_profile,
    )

    p = plan_of(stats_doc_len_profile(spark, SF_SMOKE))
    assert "row_number" not in p, "raw-doc ranking reintroduced"
    assert p.count("HashAggregate") >= 2, "histogram pre-agg missing"
    assert broadcasts(p) >= 1, "per-source totals must broadcast"
    assert not has_cartesian(p)


def test_zscore_window_is_sub_partitioned(spark):
    """ts_anomaly_zscore must never sort a data-scale frame per
    event_type (low-cardinality hot partition).  The distributed form
    ranks within deterministic time-range buckets and rebuilds trailing
    sums via the exploded contribution groupBy.  Gate: every
    windowspecdefinition that orders by ts must also partition by _bkt;
    offsets/bounds come back broadcast; no cartesian."""
    import re

    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        ts_anomaly_zscore,
    )

    p = plan_of(ts_anomaly_zscore(spark, SF_SMOKE))
    specs = re.findall(r"windowspecdefinition\([^)]*\)", p)
    assert specs, "expected window specs in plan"
    for s in specs:
        if "ts#" in s:
            assert "_bkt#" in s, f"doc-scale window not sub-partitioned: {s}"
    assert broadcasts(p) >= 1
    assert not has_cartesian(p)


def test_upsample_cusum_cosine_pca_plan_shapes(spark):
    """Scale-shape gates for the round-6 operators."""
    from mysql_cdc_debezium_starrocks_spark.operators.linalg import (
        emb_pca_project,
    )
    from mysql_cdc_debezium_starrocks_spark.operators.similarity import (
        emb_cosine_pair_histogram,
    )
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        mix_upsample_repeat,
        ts_changepoint_cusum,
    )

    # pair histogram: equi-join on the hash bucket, never a cartesian
    p = plan_of(emb_cosine_pair_histogram(spark, SF_SMOKE))
    assert not has_cartesian(p)

    # upsample plan: |sources|-row frames broadcast back onto the scan
    p = plan_of(mix_upsample_repeat(spark, SF_SMOKE))
    assert not has_cartesian(p) or broadcasts(p)
    assert broadcasts(p)

    # CUSUM: both windows ride ONE shuffle on event_type (sort reuse); the
    # only other exchanges are the hourly rollup and the final top-k
    df = ts_changepoint_cusum(spark, SF_SMOKE)
    p = plan_of(df)
    assert shuffle_count(p) <= 4
    assert not has_cartesian(p)

    # integer PCA: the projection scan is map-only — the single exchange
    # is load_spread's spreading repartition, not a data shuffle (the
    # 64-row moment/covariance jobs run eagerly during build)
    p = plan_of(emb_pca_project(spark, SF_SMOKE))
    assert shuffle_count(p) <= 1
    assert "mapinpandas" not in p.lower()


def test_new_ops_plan_shapes(spark):
    """100 TB survival properties of the round's remaining new operators:
    map-side partial aggregation everywhere, no cartesian products, and
    the scoring joins broadcast their bounded side."""
    from mysql_cdc_debezium_starrocks_spark.operators.dedup import (
        eval_minhash_threshold_sweep,
    )
    from mysql_cdc_debezium_starrocks_spark.operators.linalg import (
        emb_outlier_zscore,
    )
    from mysql_cdc_debezium_starrocks_spark.operators.sketches import (
        sketch_hll_portable,
    )
    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        mix_dsir_weights,
        stats_kl_by_source,
    )
    from mysql_cdc_debezium_starrocks_spark.operators.text import (
        eval_bpe_compression_sweep,
        text_ngram_coverage,
    )
    from mysql_cdc_debezium_starrocks_spark.plans import broadcasts

    for fn, needs_bcast in (
        (mix_dsir_weights, True),        # 4096-row log-ratio table
        (stats_kl_by_source, False),     # vocab-sized join, AQE decides
        (sketch_hll_portable, True),     # 1-row exact-count leg
        (text_ngram_coverage, True),     # eval gram set + hit set
        (emb_outlier_zscore, True),      # d-row moment table
        (eval_minhash_threshold_sweep, True),  # |taus|-row grid
        (eval_bpe_compression_sweep, True),    # 0-or-1-row best pair
    ):
        p = plan_of(fn(spark, SF_SMOKE))
        assert not has_cartesian(p), fn.__name__
        assert partial_aggregates(p), fn.__name__
        if needs_bcast:
            assert broadcasts(p), fn.__name__
