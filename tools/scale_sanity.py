"""Scale-sanity harness: time selected operators at 1x vs Nx fixture data.

Builds an N-fold replica of the tables a query touches (disjoint key spaces,
so dedup/grouping cardinalities scale with the data instead of collapsing),
then compares warm wall-clock.  A healthy operator scales sub-linearly on
local[32] (fixed costs amortize, no plan cliffs, no spill); anything
super-linear flags a shuffle or state problem to fix before it becomes a
100 TB incident.

Usage: python tools/scale_sanity.py [sf_dir] [factor]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFFSET = 100_000_000  # disjoint key spaces per replica

# table -> columns to offset per replica i (key-ish columns only)
REPL = {
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "embeddings": ["vec_id"],
    # customer replicates alongside orders so FK containment keeps resolving
    "customer": ["c_custkey"],
    # pass-through parents for the FK audit: ONE unscaled copy in the
    # scaled fixture (children scale by factor, the dimension stays fixed
    # — the realistic shape: fact tables grow, dims don't)
    "part": [],
    "supplier": [],
    "nation": [],
    "region": [],
}

# query name -> (callable path, tables it needs replicated)
CASES = {
    "dedup_passage_exact": ("operators.dedup", ["documents"]),
    "mix_sample_apply": ("operators.stats", ["documents"]),
    "events_transitions": ("operators.events", ["events"]),
    "events_retention": ("operators.stats", ["events"]),
    "window_range_rolling_revenue": ("operators.relational", ["lineitem"]),
    "events_conversion_within_hour": ("operators.events", ["events"]),
    "text_normalize": ("operators.text", ["documents"]),
    "sample_shuffle_prefix": ("operators.stats", ["documents"]),
    "agg_top1_per_group_argmax": ("operators.relational_ext", ["orders"]),
    "merge_upsert_orders": ("operators.merge_ops", ["orders"]),
    "dedup_semantic": ("operators.similarity", ["embeddings"]),
    "emb_pq_codes": ("operators.similarity", ["embeddings"]),
    "text_perplexity": ("operators.text", ["documents"]),
    "sketch_theta_intersect": ("operators.sketches", ["events"]),
    "dedup_exact_substring": ("operators.dedup", ["documents"]),
    "text_chunk": ("operators.text", ["documents"]),
    "events_top_paths": ("operators.events", ["events"]),
    "text_url_dedup": ("operators.text", ["documents"]),
    "ts_ewma": ("operators.temporal", ["events"]),
    "join_skew_salted": ("operators.relational_ext", ["lineitem"]),
    "ann_ivfpq_search": ("operators.similarity", ["embeddings"]),
    "eval_minhash_pr": ("operators.dedup", ["documents"]),
    "ts_anomaly_mad": ("operators.temporal", ["events"]),
    "cdc_diff_window": ("operators.cdc_queries", ["orders"]),
    "dedup_cross_source_matrix": ("operators.dedup", ["documents"]),
    "text_pmi_cooccur": ("operators.stats", ["documents"]),
    "stats_ks_by_source": ("operators.stats", ["documents"]),
    "text_hash_embed": ("operators.text", ["documents"]),
    # round-4 additions (VERDICT r03 #4): the round-3 bench leaders.  The
    # replica word-prefixing grows the VOCABULARY ~factor x, so the BPE
    # rows stress exactly the axis the verdict flagged (word-frequency
    # table size; plan depth is fixed at BPE_ROUNDS).
    "text_bpe_merges": ("operators.text", ["documents"]),
    "text_bpe_encode": ("operators.text", ["documents"]),
    "text_vocab_growth": ("operators.stats", ["documents"]),
    "ann_pq_search": ("operators.similarity", ["embeddings"]),
    "eval_ann_recall": ("operators.similarity", ["embeddings"]),
    "sketch_theta_containment": ("operators.sketches", ["orders", "customer"]),
    "basket_part_pairs": ("operators.stats", ["lineitem"]),
    # late-round-4 additions: every new heavy operator gets a row BEFORE it
    # ships (the discipline that caught the SimHash band-saturation cliff).
    # The phash family reads documents.text as synthetic image bytes; the
    # replica word-prefixing perturbs pixels, so cross-replica images stay
    # out of each other's Hamming-band buckets (same disjointness argument
    # as the near-dup text rows above).
    "ann_ivfpq_refine": ("operators.similarity", ["embeddings"]),
    "eval_retrieval_mrr": ("operators.similarity", ["embeddings"]),
    "eval_kmeans_silhouette": ("operators.similarity", ["embeddings"]),
    "text_vocab_coverage": ("operators.stats", ["documents"]),
    "stats_source_gini": ("operators.stats", ["documents"]),
    "mm_image_phash": ("operators.multimodal", ["documents"]),
    "mm_phash_dupes": ("operators.multimodal", ["documents"]),
    "mm_phash_components": ("operators.multimodal", ["documents"]),
    "eval_phash_pr": ("operators.multimodal", ["documents"]),
    "corpus_dedup_funnel": ("operators.text", ["documents"]),
    "join_interval_overlap": ("operators.temporal", ["lineitem"]),
    "stats_column_profile": ("operators.stats", ["orders"]),
    "cdc_monitor_profile": ("operators.cdc_queries", ["orders"]),
    "eval_ivf_balance": ("operators.similarity", ["embeddings"]),
    # round-4 second/third-wave additions (this session)
    "dq_fk_orphans": ("operators.dq",
                      ["orders", "customer", "lineitem", "part",
                       "supplier", "nation", "region"]),
    "ml_naive_bayes": ("operators.ml", ["documents"]),
    "emb_prune_diversity": ("operators.similarity", ["embeddings"]),
    "stats_bootstrap_means": ("operators.stats", ["documents"]),
    "events_attribution": ("operators.events", ["events"]),
    "text_boilerplate_prefix": ("operators.text", ["documents"]),
    "mix_temperature_sampling": ("operators.stats", ["documents"]),
    "stats_entropy_by_source": ("operators.stats", ["documents"]),
    "pack_concat_chunks": ("operators.packing", ["documents"]),
    "events_dau_wau": ("operators.events", ["events"]),
    "eval_mix_convergence": ("operators.stats", ["documents"]),
    "eval_pack_efficiency": ("operators.packing", ["documents"]),
    # round-5 additions: every new operator gets a row BEFORE it ships
    "emb_dim_budget_recall": ("operators.similarity", ["embeddings"]),
    "join_asof_nearest": ("operators.temporal", ["events"]),
    "stats_doc_len_profile": ("operators.stats", ["documents"]),
    "events_burst_anomaly": ("operators.events", ["events"]),
    # round-5 second wave
    "text_bm25_topk": ("operators.text", ["documents"]),
    "mix_dsir_weights": ("operators.stats", ["documents"]),
    "sample_weighted_priority": ("operators.stats", ["documents"]),
    "stats_kl_by_source": ("operators.stats", ["documents"]),
    "eval_quality_threshold_sweep": ("operators.text", ["documents"]),
    "sketch_hll_portable": ("operators.sketches", ["orders"]),
    "text_ngram_coverage": ("operators.text", ["documents"]),
    "emb_outlier_zscore": ("operators.linalg", ["embeddings"]),
    "eval_minhash_threshold_sweep": ("operators.dedup", ["documents"]),
    "eval_bpe_compression_sweep": ("operators.text", ["documents"]),
    # round-6 additions: every new operator gets a row BEFORE it ships
    "mix_upsample_repeat": ("operators.stats", ["documents"]),
    "ts_changepoint_cusum": ("operators.stats", ["events"]),
    # round-8 rewrites: the de-hot-partitioned rolling z-score
    "ts_anomaly_zscore": ("operators.stats", ["events"]),
    "emb_cosine_pair_histogram": ("operators.similarity", ["embeddings"]),
    "emb_pca_project": ("operators.linalg", ["embeddings"]),
    # round-7 additions
    "sample_token_budget": ("operators.stats", ["documents"]),
    "mix_budget_report": ("operators.stats", ["documents"]),
}

# ---- pair-regime embeddings fixture (round 7) -------------------------------
# The replicated fixture tops out at ~15k vectors (500-row base x 30): pair
# work that grows quadratically hides entirely under Spark fixed costs at
# that size — the r06 verdict's "what's missing #1" (this harness replicates
# tiny bases and so physically could not see the emb_cosine_pair_histogram
# fixed-B=32 cliff; the join_interval_overlap cliff class).  This section
# SYNTHESIZES a deterministic n-vector embeddings table (same schema:
# vec_id BIGINT, embedding FLOAT[64], label INT; xxhash64-seeded uniform
# components, so content is irrelevant to timing but norms are never zero)
# and times the pair-enumerating family across an nx row step where
# quadratic pair work grows n^2 x and CANNOT hide.
#
# name -> (module, base_n, big_n).  emb_cosine_pair_histogram /
# dedup_semantic / eval_ann_recall run 25k -> 200k (8x rows; linear plans
# should read well under 8x wall).  dedup_embedding_cosine runs 12.5k -> 50k
# (4x): its OUTPUT CONTRACT (every within-label pair above threshold, 10
# fixed labels) makes candidate work O(n^2/10) by definition — the exact
# path documented as such, with dedup_semantic/ann_lsh_topk the scale path —
# so the harness sizes it to demonstrate the growth without a 10-minute row.
PAIR_CASES = {
    "emb_cosine_pair_histogram": ("operators.similarity", 25_000, 200_000),
    "dedup_semantic": ("operators.similarity", 25_000, 200_000),
    "eval_ann_recall": ("operators.similarity", 25_000, 200_000),
    "dedup_embedding_cosine": ("operators.dedup", 12_500, 50_000),
    # round 8: ann_lsh_topk is the NAMED scale path for
    # dedup_embedding_cosine's contract-quadratic (its docstring) — prove
    # the recommendation: bucket key is hash-derived and the query side is
    # ANN_QUERY_SPAN-capped, so candidate volume is |queries| x n/2^planes
    # (linear in n) and the row should read flat.
    "ann_lsh_topk": ("operators.similarity", 25_000, 200_000),
}

# ---- pair-regime DOCUMENTS fixture (round 8) --------------------------------
# The r07 verdict's missing #1: the banded Hamming families (SimHash 4x15-bit
# = 32k buckets/band, pHash 4x16-bit = 65k) are the same constant-B class as
# the emb_cosine_pair_histogram fixed-B cliff r07 fixed — chance band
# collisions grow candidate pairs ~n^2/32k, invisible below ~100k docs (the
# replicated fixture tops out ~15k).  This synthesizes a deterministic n-doc
# documents table (same schema: doc_id BIGINT, text, lang, source, n_chars)
# with ~24 words/doc drawn from a corpus-scaled vocabulary (Heaps-ish:
# vocab ~ n/5; a fixed tiny vocab would collapse fingerprints into few
# buckets and overstate the cliff), plus planted near-dup pairs (every
# doc_id % 50 == 1 copies doc_id-1's words with one appended) so the
# Hamming-verify path sees real hits.
#
# The first "word" of every doc is a 192-char md5-hex blob — exactly the
# byte span the pHash family rasterizes (8x8x3).  Without it the image
# payload is the word-rhythm of ordinary text ('w'/space/digit bytes at
# similar positions), whose block-mean hashes concentrate into a handful
# of values: measured n_pred ~ 97% of ALL pairs at 25k — an output-contract
# quadratic of the fixture, not the band-saturation regime under test.
# High-entropy pixels give ~iid threshold bits, so band keys spread over
# the 65k buckets and the row isolates CHANCE collisions.  The blob is
# seed-derived, so a planted dup is an IDENTICAL image (Hamming 0 — real
# verified pairs) while its word multiset still differs by one word for
# the SimHash side.
DOC_PAIR_CASES = {
    "dedup_simhash": ("operators.dedup", 25_000, 200_000),
    "dedup_simhash_pairs": ("operators.dedup", 25_000, 200_000),
    "mm_phash_dupes": ("operators.multimodal", 25_000, 200_000),
    "eval_phash_pr": ("operators.multimodal", 25_000, 200_000),
}


def _build_doc_pair_fixture(spark, out: str, n: int) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(out, "_READY_v1")):
        return
    shutil.rmtree(out, ignore_errors=True)
    vocab = max(2000, n // 5)
    wpd = 24
    base = spark.range(n).select(F.col("id").alias("doc_id"))
    is_dup = (F.col("doc_id") % 50 == 1) & (F.col("doc_id") > 0)
    seed = F.when(is_dup, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    word = lambda i: F.concat(  # noqa: E731 — deterministic vocab draw
        F.lit("w"),
        (
            (
                F.xxhash64(
                    F.concat(
                        F.lit("dw:"),
                        F.col("seed").cast("string"),
                        F.lit(":"),
                        i.cast("string"),
                    )
                )
                % vocab
                + vocab
            )
            % vocab
        ).cast("string"),
    )
    blob = F.concat(
        *[
            F.md5(
                F.concat(
                    F.lit(f"blob{j}:"), F.col("seed").cast("string")
                )
            )
            for j in range(6)
        ]
    )  # 6 x 32 hex chars = the exact 192-byte 8x8x3 image span
    txt = F.concat(
        blob,
        F.lit(" "),
        F.array_join(
            F.transform(F.sequence(F.lit(0), F.lit(wpd - 1)), word), " "
        ),
    )
    (
        base.withColumn("seed", seed)
        .select(
            "doc_id",
            F.when(is_dup, F.concat(txt, F.lit(" extradup")))
            .otherwise(txt)
            .alias("text"),
            F.lit("en").alias("lang"),
            F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias(
                "source"
            ),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(32)
        .write.parquet(os.path.join(out, "documents.parquet"))
    )
    open(os.path.join(out, "_READY_v1"), "w").close()


def _build_pair_fixture(spark, out: str, n: int) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(out, "_READY_v1")):
        return
    shutil.rmtree(out, ignore_errors=True)
    comp = lambda d: (  # noqa: E731 — per-dim uniform in [-1, 1], seeded
        (
            (
                F.xxhash64(
                    F.concat(
                        F.lit("pr:"),
                        F.col("vec_id").cast("string"),
                        F.lit(":"),
                        d.cast("string"),
                    )
                )
                % 2001
                + 2001
            )
            % 2001
            - 1000
        )
        / F.lit(1000.0)
    ).cast("float")
    (
        spark.range(n)
        .select(F.col("id").alias("vec_id"))
        .select(
            "vec_id",
            F.transform(F.sequence(F.lit(0), F.lit(63)), comp).alias(
                "embedding"
            ),
            (F.col("vec_id") % 10).cast("int").alias("label"),
        )
        .repartition(32)
        .write.parquet(os.path.join(out, "embeddings.parquet"))
    )
    open(os.path.join(out, "_READY_v1"), "w").close()


# Graph/curation family (VERDICT r02 next #7): these share the SimHash
# pair/component artifact (operators.dedup.shared_dup_pairs), so the memo is
# cleared before every run — each timing below INCLUDES the distributed
# band-join pair generation, the scale-relevant part.
GRAPH_CASES = {
    "dedup_components": ("operators.dedup", ["documents"]),
    "dedup_pagerank": ("operators.dedup", ["documents"]),
    "corpus_curate": ("operators.text", ["documents"]),
    "corpus_split_leakage_safe": ("operators.dedup", ["documents"]),
    "dedup_graph_triangles": ("operators.dedup", ["documents"]),
}


def _build(spark, sf_dir: str, out: str, factor: int) -> None:
    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.catalog import load

    if os.path.exists(os.path.join(out, "_READY_v3")):
        return
    shutil.rmtree(out, ignore_errors=True)
    needed = sorted(
        {t for _, ts in {**CASES, **GRAPH_CASES}.values() for t in ts}
    )
    for t in needed:
        base = load(spark, sf_dir, t)
        # REPL[t] == [] marks a pass-through parent (part/supplier/nation/
        # region): ONE unscaled copy, not factor verbatim replicas — a
        # union of identical copies would hold factor x duplicated primary
        # keys and inflate any future case that counts/joins the dimension
        if REPL.get(t) == []:
            base.write.parquet(os.path.join(out, f"{t}.parquet"))
            continue
        parts = []
        for i in range(factor):
            df = base
            for c in REPL.get(t, []):
                df = df.withColumn(c, F.col(c) + F.lit(i * OFFSET))
            # Content must be disjoint across replicas like the keys are:
            # verbatim text would give every doc (factor - 1) exact copies,
            # so the near-dup graph gains C(factor, 2) * n clique pairs —
            # an O(factor^2) harness artifact that masquerades as a scale
            # cliff in the pair-generation queries.  Disjoint-for-NEAR-dup
            # means every WORD must change (SimHash/MinHash are robust to
            # small edits by design — a suffix token leaves cross-replica
            # copies within Hamming<=3), so each word gets a per-replica
            # prefix; dup structure stays internal to each replica, which
            # is what "factor x the corpus" means for dedup workloads.
            if t == "documents" and i > 0:
                tag = f"r{i}x"
                df = df.withColumn(
                    "text",
                    F.concat(
                        F.lit(tag),
                        F.regexp_replace(F.col("text"), " ", f" {tag}"),
                    ),
                )
            parts.append(df)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.repartition(32).write.parquet(os.path.join(out, f"{t}.parquet"))
    open(os.path.join(out, "_READY_v3"), "w").close()


def _time(fn, spark, d: str) -> float:
    """Warm-then-timed wall clock with the session artifact cache cleared
    before EACH run: memoized shared artifacts (dedup pairs/signatures, the
    round-4 ANN index family) would otherwise make the timed run a cache
    read — the ratio must charge every query its full build, the
    scale-relevant part.  ``clear()`` also releases Spark's cached copies,
    which a rebuild with a matching plan would otherwise read.  No-op for
    queries that don't memoize."""
    from mysql_cdc_debezium_starrocks_spark.operators._artifacts import clear

    clear()
    fn(spark, d).write.mode("overwrite").format("noop").save()  # warm
    clear()
    t0 = time.perf_counter()
    fn(spark, d).write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def main() -> None:
    import importlib

    from mysql_cdc_debezium_starrocks_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("scale-sanity")
    out = f"/tmp/scale{factor}_{os.path.basename(os.path.normpath(sf_dir))}"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    # the replicated fixture is only needed by CASES/GRAPH_CASES rows —
    # a pair-regime-only invocation skips the (minutes-long) replica build
    if (
        any(not only or n in only for n in CASES)
        or any(not only or n in only for n in GRAPH_CASES)
    ):
        _build(spark, sf_dir, out, factor)

    print(f"| query | 1x s | {factor}x s | ratio |")
    print("|---|---|---|---|")
    for name, (mod, _tabs) in CASES.items():
        if only and name not in only:
            continue
        m = importlib.import_module(f"mysql_cdc_debezium_starrocks_spark.{mod}")
        fn = getattr(m, name)
        t1 = _time(fn, spark, sf_dir)
        tn = _time(fn, spark, out)
        print(f"| {name} | {t1:.2f} | {tn:.2f} | {tn / t1:.1f}x |", flush=True)

    # graph/curation family: memo cleared per run (timings include pair
    # generation), then the components fixpoint forced through the
    # DISTRIBUTED tier (fixtures cannot reach the 2M-pair switch naturally,
    # so the threshold is dropped to 0 — same code path the switch takes)
    from mysql_cdc_debezium_starrocks_spark.operators import dedup
    from mysql_cdc_debezium_starrocks_spark.operators._artifacts import clear

    for tier, threshold in (("unionfind", None), ("distributed", 0)):
        saved = dedup._UNION_FIND_MAX_PAIRS
        if threshold is not None:
            dedup._UNION_FIND_MAX_PAIRS = threshold
        try:
            for name, (mod, _tabs) in GRAPH_CASES.items():
                if only and name not in only:
                    continue
                if tier == "distributed" and name not in (
                    "dedup_components", "dedup_pagerank"
                ):
                    continue  # consumer queries share the components result
                m = importlib.import_module(
                    f"mysql_cdc_debezium_starrocks_spark.{mod}"
                )
                fn = getattr(m, name)
                t1 = _time(fn, spark, sf_dir)
                tn = _time(fn, spark, out)
                print(
                    f"| {name} [{tier}] | {t1:.2f} | {tn:.2f} | "
                    f"{tn / t1:.1f}x |",
                    flush=True,
                )
        finally:
            dedup._UNION_FIND_MAX_PAIRS = saved
            clear()

    # pair-regime sweep: synthesized vector counts where pair work DOMINATES
    # (quadratic growth cannot hide under fixed costs — r06 "missing #1")
    for name, (mod, base_n, big_n) in PAIR_CASES.items():
        if only and name not in only:
            continue
        m = importlib.import_module(f"mysql_cdc_debezium_starrocks_spark.{mod}")
        fn = getattr(m, name)
        d1, dn = f"/tmp/pairreg_{base_n}", f"/tmp/pairreg_{big_n}"
        _build_pair_fixture(spark, d1, base_n)
        _build_pair_fixture(spark, dn, big_n)
        t1 = _time(fn, spark, d1)
        tn = _time(fn, spark, dn)
        print(
            f"| {name} [pair {base_n // 1000}k->{big_n // 1000}k,"
            f" {big_n // base_n}x rows] | {t1:.2f} | {tn:.2f} |"
            f" {tn / t1:.1f}x |",
            flush=True,
        )

    # documents pair-regime sweep: the banded Hamming families (SimHash /
    # pHash fixed 32k / 65k band buckets) at doc counts where chance band
    # collisions dominate — the constant-B saturation regime the replicated
    # fixture physically cannot reach (r07 "missing #1")
    for name, (mod, base_n, big_n) in DOC_PAIR_CASES.items():
        if only and name not in only:
            continue
        m = importlib.import_module(f"mysql_cdc_debezium_starrocks_spark.{mod}")
        fn = getattr(m, name)
        d1, dn = f"/tmp/pairdoc_{base_n}", f"/tmp/pairdoc_{big_n}"
        _build_doc_pair_fixture(spark, d1, base_n)
        _build_doc_pair_fixture(spark, dn, big_n)
        t1 = _time(fn, spark, d1)
        tn = _time(fn, spark, dn)
        print(
            f"| {name} [docpair {base_n // 1000}k->{big_n // 1000}k,"
            f" {big_n // base_n}x rows] | {t1:.2f} | {tn:.2f} |"
            f" {tn / t1:.1f}x |",
            flush=True,
        )


if __name__ == "__main__":
    main()
