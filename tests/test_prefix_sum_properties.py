"""Randomized property tests for the prefix-sum and sweep-line algebra the
operators reduce to — the parts whose CORRECTNESS lives in arithmetic
identities and id distributions the fixtures cannot produce.

Pure python (no SparkSession), so hypothesis can afford hundreds of
examples; these mirror the integer arithmetic the SQL executes (the
fixture tests prove the SQL mirrors this python):

1. the interval-overlap sweep-line identities
   (operators/temporal.py::join_interval_overlap):
     n_pairs          == sum over starts of live intervals
     sum_overlap_days == sum over days of C(coverage, 2)
     max_overlap_days == max over rows of min(e, prefix-max-e) - s + 1
   against an O(n^2) brute force over adversarial random interval sets
   (equal starts, equal ends, touching endpoints, singletons);

2. the CUSUM carry algebra (streaming/cusum_ingest.py): folding the
   series through ARBITRARY batch boundaries with the
   (prefix_end, min_prefix) carry yields exactly the unsplit textbook
   recursion s_t = max(0, s_{t-1} + d_t), for any integer step sequence
   and any split.

On Spark, seeded randomized cases against a plain python groupby-cumsum
replay:

3. the distributed prefix-sum cores ``packing._dist_running_off``
   (deterministic id-range bucketing) and ``stats._token_budget_cum``
   (memoized range-partition + broadcast offsets), which underpin five
   registry operators plus two CorpusPipeline steps, over SPARSE ids
   (random 48-bit — range-derived bucket widths in the billions),
   CLUSTERED ids (all ids inside a narrow band of a huge range — the
   documented degraded-bucketing regime, which must stay CORRECT), heavy
   source skew (one source holding ~90% of rows), singleton sources, and
   adversarial bucket boundaries (consecutive ids split across buckets).
"""

from __future__ import annotations

import random
from collections import defaultdict

from hypothesis import given, settings
from hypothesis import strategies as st

from mysql_cdc_debezium_starrocks_spark.operators.packing import (
    _dist_running_off,
)

# --- 1. interval sweep-line --------------------------------------------------

intervals = st.lists(
    st.tuples(st.integers(0, 30), st.integers(1, 8)),  # (start, len-1..8)
    min_size=1,
    max_size=40,
)


def _brute(iv):
    """O(n^2) ground truth over closed integer intervals [s, e]."""
    n_pairs = 0
    sum_days = 0
    max_days = 0
    for i in range(len(iv)):
        for j in range(i + 1, len(iv)):
            (sa, ea), (sb, eb) = iv[i], iv[j]
            if sa <= eb and sb <= ea:
                ov = min(ea, eb) - max(sa, sb) + 1
                n_pairs += 1
                sum_days += ov
                max_days = max(max_days, ov)
    return n_pairs, sum_days, max_days


def _sweep(iv):
    """The three closed forms exactly as the Spark windows compute them."""
    # event sweep: starts before ends on value ties, then by row id
    events = []
    for rid, (s, e) in enumerate(iv):
        events.append((s, 0, rid))
        events.append((e, 1, rid))
    events.sort()
    starts_before = ends_before = 0
    n_pairs = 0
    for _val, typ, _rid in events:
        if typ == 0:
            n_pairs += starts_before - ends_before
            starts_before += 1
        else:
            ends_before += 1

    # per-day coverage
    cov = defaultdict(int)
    for s, e in iv:
        for d in range(s, e + 1):
            cov[d] += 1
    sum_days = sum(c * (c - 1) // 2 for c in cov.values())

    # running max of prefix ends over (s, rid) order
    max_days = 0
    best_e = None
    for s, e in sorted(
        ((s, e) for s, e in iv), key=lambda p: p
    ):
        if best_e is not None and best_e >= s:
            max_days = max(max_days, min(e, best_e) - s + 1)
        best_e = e if best_e is None else max(best_e, e)
    return n_pairs, sum_days, max_days


@settings(max_examples=400, deadline=None)
@given(intervals)
def test_interval_sweep_identities(raw):
    iv = [(s, s + ln) for s, ln in raw]
    assert _sweep(iv) == _brute(iv)


def test_interval_sweep_edge_cases():
    # touching endpoints overlap (closed intervals); nested; identical;
    # equal starts; chains
    cases = [
        [(0, 5), (5, 9)],            # touch at one day
        [(0, 9), (2, 3)],            # nested
        [(4, 6), (4, 6), (4, 6)],    # identical triple
        [(0, 3), (0, 7), (0, 1)],    # equal starts
        [(0, 1), (2, 3), (4, 5)],    # disjoint chain
        [(0, 0), (0, 0)],            # degenerate points
    ]
    for iv in cases:
        assert _sweep(iv) == _brute(iv), iv


# --- 2. CUSUM carry algebra --------------------------------------------------

steps = st.lists(st.integers(-10_000, 10_000), min_size=1, max_size=60)


def _recursion(ds):
    s = 0
    out = []
    for d in ds:
        s = max(0, s + d)
        out.append(s)
    return out


def _carried(ds, cuts):
    """Fold through batches delimited by ``cuts`` using the
    (prefix_end, min_prefix) carry exactly as ingest_cusum_batch does."""
    out = []
    c_prefix, c_minp = 0, 0
    bounds = [0] + sorted(cuts) + [len(ds)]
    for lo, hi in zip(bounds, bounds[1:]):
        if lo == hi:
            continue
        run = 0
        for d in ds[lo:hi]:
            run += d
            prefix = c_prefix + run
            # running min folds batch-local prefixes with the carried min
            c_minp = min(c_minp, prefix)
            out.append(prefix - min(c_minp, 0))
        c_prefix = prefix
    return out


@settings(max_examples=400, deadline=None)
@given(
    steps,
    st.lists(st.integers(0, 59), max_size=6),
)
def test_cusum_carry_equals_recursion(ds, cuts):
    cuts = [c for c in cuts if c < len(ds)]
    assert _carried(ds, cuts) == _recursion(ds)


def test_cusum_carry_single_and_per_element_batches():
    ds = [5, -3, -9, 12, -1, -20, 7, 7, 7]
    assert _carried(ds, []) == _recursion(ds)
    assert _carried(ds, list(range(1, len(ds)))) == _recursion(ds)


# --- 3. distributed prefix sums ----------------------------------------------

def _expect_off(rows):
    """python replay: per-source EXCLUSIVE running sum in doc_id order."""
    out = {}
    acc: dict[str, int] = {}
    for doc_id, source, tk in sorted(rows):
        out[doc_id] = acc.get(source, 0)
        acc[source] = acc.get(source, 0) + tk
    return out


def _case(rng, n, id_gen, n_sources, skew=False):
    ids = set()
    while len(ids) < n:
        ids.add(id_gen(rng))
    rows = []
    for doc_id in ids:
        if skew and rng.random() < 0.9:
            src = "big"
        else:
            src = f"s{rng.randrange(n_sources)}"
        rows.append((doc_id, src, rng.randrange(1, 50)))
    # a singleton source exercising the one-row-per-group edge
    lone = max(ids) + 1
    rows.append((lone, "lonely", 7))
    return rows


def _check(spark, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long"
    )
    got = {
        r.doc_id: r.off
        for r in _dist_running_off(df).select("doc_id", "off").collect()
    }
    assert got == _expect_off(rows)


def test_dist_running_off_sparse_ids(spark):
    rng = random.Random(81)
    _check(spark, _case(rng, 400, lambda r: r.randrange(1 << 48), 5))


def test_dist_running_off_clustered_ids(spark):
    # every id inside a 2000-wide band starting at 10^12: the range-derived
    # width collapses most rows into few buckets — degraded parallelism by
    # design, results must stay exact
    rng = random.Random(82)
    base = 10**12
    _check(
        spark, _case(rng, 300, lambda r: base + r.randrange(2000), 3)
    )


def test_dist_running_off_source_skew_and_dense_ids(spark):
    rng = random.Random(83)
    _check(spark, _case(rng, 500, lambda r: r.randrange(600), 4, skew=True))


def test_token_budget_cum_matches_python_on_random_corpus(spark, tmp_path):
    """sample_token_budget / mix_budget_report on a synthesized corpus with
    sparse ids + skewed sources equal a python replay of the budget rule
    (priority order by the portable hash, cut includes the boundary doc)."""
    import hashlib

    from mysql_cdc_debezium_starrocks_spark.operators.stats import (
        TOKEN_BUDGET,
        mix_budget_report,
        sample_token_budget,
    )

    rng = random.Random(84)
    ids = set()
    while len(ids) < 300:
        ids.add(rng.randrange(1 << 40))
    rows = []
    for doc_id in sorted(ids):
        src = "big" if rng.random() < 0.8 else f"s{rng.randrange(3)}"
        nw = rng.randrange(1, 40)
        text = " ".join(f"w{rng.randrange(1000)}" for _ in range(nw))
        rows.append((doc_id, text, "en", src, len(text)))
    d = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).repartition(4).write.parquet(f"{d}/documents.parquet")

    def pri(doc_id):
        return int(hashlib.md5(f"tb:{doc_id}".encode()).hexdigest()[:8], 16)

    acc: dict[str, int] = {}
    want = {}
    for doc_id, text, _l, src, _n in sorted(
        rows, key=lambda r: (r[3], pri(r[0]), r[0])
    ):
        tk = len(text.split())
        acc[src] = acc.get(src, 0) + tk
        if acc[src] <= TOKEN_BUDGET:
            want[doc_id] = (src, tk, acc[src])

    got = {
        r.doc_id: (r.source, r.tk, r.cum_tokens)
        for r in sample_token_budget(spark, d).collect()
    }
    assert got == want and got

    rep = {r.source: r for r in mix_budget_report(spark, d).collect()}
    by_src: dict[str, list] = {}
    for doc_id, (src, tk, _c) in want.items():
        by_src.setdefault(src, []).append(tk)
    for src, r in rep.items():
        kept = by_src.get(src, [])
        assert r.kept_docs == len(kept)
        assert r.kept_tokens == sum(kept)
        assert r.fill_ppm == sum(kept) * 1_000_000 // TOKEN_BUDGET
