"""Dump formatted physical plans, each with the scale properties the plan
exhibits; a headline query also prints the shape it was designed to have.

Usage: python tools/dump_plans.py [sf_dir] [query ...] [--executed] [--out DIR]

- query names default to the headline set below; sf_dir (the first
  argument containing "/") defaults to the sf0.001 fixture;
- ``--executed`` runs each query on bench.py's staged copy of sf_dir
  (``bench._stage``) before dumping, so the plan is AQE's final one
  (``AdaptiveSparkPlan isFinalPlan=true``, with runtime coalescing, join
  rewrites and reused exchanges) rather than the pre-execution plan;
- the dump goes to stdout, or with ``--out DIR`` to ``DIR/<query>.txt``.

The properties a plan must keep are asserted by tests/test_plans.py and
tests/test_tpch_plans.py; this tool is for reading plans, not gating them.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_cdc_debezium_starrocks_spark.plans import (  # noqa: E402
    broadcasts,
    partial_aggregates,
    plan_of,
    prunes_columns,
    pushes_filters,
    shuffle_count,
)
from mysql_cdc_debezium_starrocks_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

HEADLINE = [
    (
        "cdc_apply",
        "CDC keyed apply: parse both envelope shapes -> max_by partial-agg "
        "LWW -> live filter. One semantic shuffle (the PK groupBy); the "
        "other exchange is the single-file local-fixture equalizer, absent "
        "when the scan arrives pre-split (real clusters / staged bench). "
        "No ranking window.",
    ),
    (
        "q1_pricing_summary",
        "Scan-agg: every predicate pushed to the scan, 7-column read schema, "
        "map-side partials, one exchange.",
    ),
    (
        "q3_shipping_priority",
        "Selective join: filtered customer broadcast, orders/lineitem shuffle "
        "on the natural key, TakeOrderedAndProject top-k (no global sort).",
    ),
    (
        "q5_region_revenue",
        "Star join: all four dims broadcast; the only shuffles are the "
        "fact-fact join and the final small agg.",
    ),
    (
        "join_asof",
        "As-of join as union-and-carry-forward: one shuffle on the key, no "
        "inequality-join explosion.",
    ),
    (
        "join_asof_nearest",
        "Nearest as-of join: the same single key shuffle and ONE sort "
        "serving both direction carries (backward last(), forward first() "
        "over the identical window order); direction pick is map-side "
        "millisecond arithmetic.",
    ),
    (
        "ann_ivf_topk",
        "IVF ANN: centroid scoring map-only against broadcast centroids, "
        "cell argmax via partial max_by (one row per vector on the wire).",
    ),
    (
        "sample_reservoir_per_source",
        "Fixed-k per-stratum sample: rank<=k over the hash-ordered window "
        "triggers WindowGroupLimit pushdown — each task keeps k rows per "
        "group before the exchange, no stratum ever fully sorts.",
    ),
    (
        "mix_sample_apply",
        "Mixture realization: per-source rates reduce to a broadcast table; "
        "the corpus side filters map-only against it — zero wide shuffles "
        "of the documents.",
    ),
    (
        "dedup_semantic",
        "SemDeDup: broadcast deterministic centroids, partial max_by cell "
        "assignment, equi-join on cell (no cartesian), partial min_by "
        "keeper selection.",
    ),
    (
        "emb_pq_codes",
        "Product quantization: one codebook broadcast, codegen subspace "
        "distance folds, one partial-agg min(struct) shuffle (a row per "
        "vector on the wire).",
    ),
    (
        "dedup_passage_exact",
        "Passage-dedup profile: chunking is an array fold in codegen; both "
        "exchanges key on the 8-byte chunk hash, never passage text.",
    ),
    (
        "window_range_rolling_revenue",
        "Value-based RANGE frame: one exchange on the partition key, sorted "
        "sliding accumulator inside each partition — no self-join.",
    ),
    (
        "merge_upsert_orders",
        "MERGE INTO: one full-outer join resolves update/insert/delete "
        "column-wise — no window, no per-row probes.",
    ),
    (
        "cdc_asof_snapshot",
        "Time travel: broadcast scalar cutoff over the persisted parsed "
        "log, then the same partial-agg max_by LWW replay as the live "
        "apply — one keyed shuffle.",
    ),
    (
        "text_chunk",
        "RAG chunking: tokenize once (materialized column), posexplode the "
        "filtered start sequence, codegen slice/md5 projection — map-only, "
        "the single exchange is the local-fixture equalizer.",
    ),
    (
        "events_top_paths",
        "Trigram path mining: both leads share ONE user_id window sort, "
        "session-gap filter before the small-key partial-agg count, "
        "TakeOrderedAndProject top-k.",
    ),
    (
        "text_perplexity",
        "Unigram-LM scoring: exactly TWO corpus scans (tf and vocab — "
        "Catalyst cannot share diverging branches; the corpus total folds "
        "into the vocab branch via ln(cnt/N) = ln(cnt) - ln(N) and an "
        "un-ordered global window over the vocabulary rows), "
        "integer-quantized log-probs so the per-doc sum partial-aggs "
        "exactly.",
    ),
    (
        "ann_ivfpq_search",
        "IVF-PQ composed index: cell assignment and PQ codes are each one "
        "partial-agg shuffle over a broadcast codebook; search touches only "
        "the (cell, codes) index — probe list and per-query ADC tables all "
        "broadcast, candidate float vectors never read.",
    ),
    (
        "join_skew_salted",
        "Skew-salted aggregation: phase-1 groupBy (key, salt) spreads each "
        "hot key over 16 reducers with map-side combine; phase-2 folds the "
        "16 partials — exactly two exchanges, result bit-equal to the "
        "direct groupBy (proven by the DuckDB parity gate).",
    ),
    (
        "ts_ewma",
        "Dyadic EWMA level per key: one window shuffle for row numbers, a "
        "partial-agg'd tail-position reduce, and an equi-join that keeps "
        "only the last K=16 rows per key — O(K) state per key, all-int64 "
        "weighted sum.",
    ),
    (
        "cdc_diff_window",
        "Two-snapshot CDC diff from ONE keyed shuffle: the groupBy "
        "aggregates max_by twice (ordering key nulled past cutoff 1), so "
        "the diff costs one log scan + one partial-aggregatable reduction "
        "— no second replay, no snapshot self-join.",
    ),
    (
        "dedup_cross_source_matrix",
        "Source-overlap matrix: corpus-scale work is one distinct on "
        "(source, 60-bit window hash); the self-join fans out per shared "
        "hash by the number of sources sharing it (bounded by |sources|), "
        "and per-source totals broadcast onto the |sources|^2 result.",
    ),
    (
        "ts_anomaly_mad",
        "Median/MAD outlier profile: two window sorts and three "
        "aggregations all keyed by user_id — one balanced shuffle key, "
        "order statistics summed in int64, no float division.",
    ),
    (
        "text_pmi_cooccur",
        "Windowed PMI associations: shifted-zip pair generation is "
        "map-side (no self-join), the only data-scale shuffles are two "
        "token-keyed partial-agg counts; unigram lookups broadcast off "
        "ONE persisted vocab aggregate.",
    ),
    (
        "stats_ks_by_source",
        "Two-sample KS drift: one partial-agg to the (source, length) "
        "histogram; grid, cumsums, and sup-norm all run on histogram "
        "rows partitioned by source — the global ECDF rides the same "
        "window as cum_all - cum_s, no single-partition stage.",
    ),
    (
        "eval_ann_recall",
        "ANN acceptance gate: truth and index outputs are bounded top-k "
        "sets, so past the indexes' own single corpus scans everything "
        "is a dimension-scale join on (query_id, neighbor_id).",
    ),
    (
        "text_hash_embed",
        "Feature hashing: one token explode + one partial-agg'd "
        "(doc, bucket) groupBy — at most dim rows per doc through the "
        "shuffle — then a map-side dense fill to the fixed-width vector.",
    ),
    (
        "mm_phash_dupes",
        "Image near-dup pairs: the 64-bit pHash lives as two int32 halves; "
        "banded blocking keys are integer shifts, candidate pairs emit "
        "EXACTLY once at their first shared band (an XOR-mask filter — no "
        "dropDuplicates shuffle), and the Hamming verify is "
        "bit_count(xor), one codegen'd instruction pair.",
    ),
    (
        "stats_bootstrap_means",
        "Poisson bootstrap: replica-index explode then ONE md5 per "
        "(row, replica) bucket-looked-up against literal CDF thresholds — "
        "all B=32 resamples reduce in a single map-side-combinable agg; "
        "the corpus is never shuffled.",
    ),
    (
        "dq_fk_orphans",
        "FK referential audit: relationships sharing a child table audit "
        "in ONE scan, exploded to (relationship, key) pairs and collapsed "
        "per key before the parent membership join — no Expand; each "
        "relationship's 1-row aggregate is left-joined onto the static "
        "relationship list, so an empty child table still reports.",
    ),
    (
        "pack_concat_chunks",
        "Concat-then-chunk packing: one source-partitioned running-sum "
        "window places every doc at a deterministic (bin, offset); bin "
        "arithmetic is map-side and the fill report is a partial-agg "
        "groupBy — no stateful loop, no driver state.",
    ),
    (
        "text_bm25_topk",
        "BM25 retrieval: query-term filter BEFORE the tf agg (non-query "
        "terms never shuffle), |Q|-row df + 1-row stats broadcasts, "
        "integer scoring, global top-k as TakeOrderedAndProject.",
    ),
    (
        "sample_weighted_priority",
        "Weighted WOR sampling (A-ES priorities): one scan computing the "
        "integer cost map-side, then TakeOrderedAndProject — zero "
        "shuffles; the only cross-executor traffic is k rows/partition.",
    ),
    (
        "sketch_hll_portable",
        "Portable HLL: one scan -> 1024-register map-side-combinable MAX "
        "agg -> 1-row integer estimate; the exact countDistinct leg is "
        "the verification side, joined by a 1-row broadcast.",
    ),
    (
        "mix_dsir_weights",
        "DSIR importance weights: gram explode -> 4096-bucket conditional-"
        "sum agg, bucket log-ratios broadcast back onto the gram stream, "
        "per-doc sum then per-source profile — nothing wider than B rows "
        "centralizes.",
    ),
    (
        "join_interval_overlap",
        "Interval-overlap aggregates by SWEEP-LINE (round 6: replaced the "
        "grid-blocked pair join after the 100x run measured quadratic-in-"
        "density candidate growth): event window for live counts, per-day "
        "C(c,2) rollup, running-max-prefix window — three l_partkey "
        "shuffles, NO pair enumeration, O(n log n) at any temporal "
        "density.",
    ),
    (
        "emb_pca_project",
        "Integer PCA projection: covariance + 64-row moment jobs run "
        "eagerly at build; the projection itself is ONE map-only scan — "
        "literal integer PC arrays folded by zip_with/aggregate inside "
        "codegen, no Python, no shuffle beyond the spread repartition.",
    ),
    (
        "ts_changepoint_cusum",
        "CUSUM via closed form: hourly rollup, broadcast per-type integer "
        "moments, then running sum AND running min ride ONE "
        "(event_type, hr) sort — the recursion as two stock windows; "
        "TakeOrderedAndProject top-k, no global sort.",
    ),
    (
        "sample_token_budget",
        "Distributed per-source prefix sum (round 8): range-repartition on "
        "(source, pri, doc_id) splits each source's priority order across "
        "partitions, per-(pid, source) token sums broadcast back as "
        "cumulative offsets, and the only doc-scale window is keyed by "
        "(pid, source) — max task n/P rows, never a one-task per-source "
        "sort.  The source-only window in the plan rides the bounded "
        "|sources| x P psums agg.",
    ),
    (
        "stats_doc_len_profile",
        "Histogram-selected order statistics (round 8): exact per-source "
        "median/p95 read off the length-histogram cumulative (value at "
        "rank r = smallest length whose cumulative count reaches r) — the "
        "window runs over |distinct lengths| rows per source, never a "
        "row_number over the raw docs (a low-cardinality hot partition).",
    ),
    (
        "ts_anomaly_zscore",
        "Distributed trailing frame (round 8): deterministic time-range "
        "bucketing derives each row's per-type global rank (bucket counts "
        "+ broadcast offsets + bucket-local row_number), then each row "
        "explodes its (v, v^2) to the 20 ranks it trails and a map-side-"
        "combined groupBy on the balanced (type, rank) key rebuilds every "
        "sliding frame exactly — no per-type corpus-scale sort.",
    ),
]


def _dump(title: str, plan: str, note: str | None) -> str:
    props = []
    if pushes_filters(plan):
        props.append("pushed filters")
    if prunes_columns(plan, 8):
        props.append("pruned read schema")
    if broadcasts(plan):
        props.append("broadcast join")
    if partial_aggregates(plan):
        props.append("map-side partial agg")
    props.append(f"{shuffle_count(plan)} shuffle exchange(s)")
    out = [f"## {title}", ""]
    if note:
        out += [note, ""]
    out += [f"Verified properties: {', '.join(props)}.", ""]
    out += ["```", plan.strip(), "```", ""]
    return "\n".join(out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("args", nargs="*", metavar="[sf_dir] query")
    ap.add_argument("--executed", action="store_true",
                    help="run each query on the staged layout first")
    ap.add_argument("--out", metavar="DIR",
                    help="write DIR/<query>.txt instead of stdout")
    opts = ap.parse_args()
    args = list(opts.args)
    sf_dir = args.pop(0) if args and "/" in args[0] else SF
    notes = dict(HEADLINE)
    names = args or list(notes)

    import __spark_entry__ as se

    spark = get_spark("dump_plans")
    if opts.executed:
        import bench

        sf_dir = bench._stage(spark, sf_dir)
    queries = se.queries()
    if opts.out:
        os.makedirs(opts.out, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        if opts.executed:
            df.collect()  # drive execution so the adaptive plan is final
        title = f"{name} @ {sf_dir}" + (" (executed)" if opts.executed else "")
        text = _dump(title, plan_of(df), notes.get(name))
        if opts.out:
            with open(os.path.join(opts.out, f"{name}.txt"), "w") as f:
                f.write(text)
            print(f"dumped {name}", file=sys.stderr)
        else:
            print(text, flush=True)


if __name__ == "__main__":
    main()
