"""Deduplication operators over the ``documents`` / ``embeddings`` fixtures.

Training-data-pipeline dedup suite (build-plan step 8): exact hash dedup,
MinHash+LSH near-dup candidate generation with exact-Jaccard verification,
SimHash fingerprints with banded Hamming pairing, exact n-gram Jaccard, and
embedding-cosine near-dup pairs.

Everything is built on the portable md5-derived 32-bit hash family
(``functions.phash32``), so the DuckDB oracle reproduces each sketch
bit-for-bit — the correctness gate covers the full sketch math, not just row
counts.  No Python UDFs anywhere: sketches are array-expression pipelines
(split/transform/aggregate) that stay in whole-stage codegen.

Scale design (100 TB):
- exact dedup: hash-groupBy = one shuffle on a 32-byte digest, partial-agg
  friendly; the canonical-id choice (min doc_id) is associative.
- MinHash LSH: per-doc signature is map-only; candidate generation explodes
  each doc into BANDS rows and shuffles on (band, band_hash) — the classic
  band-bucket join whose output is ~|near-dup pairs|, never O(n^2).
- SimHash: banded by 15-bit chunks (60-bit fingerprint, 32k buckets per
  band), same bucket-join shape.  Round-3 scale-sanity caught the original
  4x8-bit banding saturating its 1024 buckets (~4M candidate pairs from
  5k docs — quadratic); widening the band key keeps candidate volume
  ~|near-dup pairs| as the corpus grows.  Hamming<=3 with 4 bands keeps the
  pigeonhole recall guarantee (3 flipped bits leave >=1 band intact).
- embedding cosine here is the small-side brute-force variant; the scale
  path is the LSH-bucketed join in ``similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, load_spread
from ..functions import (
    WORDS_SQL,
    phash32,
    phash32_sql,
    phash60,
    phash60_sql,
    word_grams,
    word_grams_sql,
    word_shingles,
    word_shingles_sql,
    words,
)
from ._artifacts import artifact, register
from .similarity import _dot

NUM_HASHES = 12
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
JACCARD_MIN = 0.5
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
HAMMING_MAX = 3
COSINE_MIN = 0.40

_WORDS_SQL = WORDS_SQL.format(expr="text")


# --- exact dedup --------------------------------------------------------------


def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus summary: exact-dup volume by content digest."""
    d = load(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_redundant"),
    )


def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups: canonical (min) doc_id + copy count, groups > 1."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("digest"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .select("canonical_doc_id", "n_copies")
    )


# --- MinHash + LSH near-dup ---------------------------------------------------


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    return d.select(
        "doc_id", word_shingles(words(F.col("text"))).alias("sh")
    ).filter(F.size("sh") > 0)


# Universal-hash family over the single md5 base hash: h_i(x) = (a_i*h + b_i)
# mod P.  One md5 per shingle instead of NUM_HASHES of them (12x cheaper);
# constants are fixed odd multipliers < 2^30 so a_i*h fits in a signed 64-bit
# long on both engines.
MINHASH_P = 4_294_967_311  # smallest prime > 2^32
MINHASH_A = [769_113_277, 873_190_339, 502_930_681, 606_901_979,
             915_221_771, 305_556_421, 104_729_657, 217_645_199,
             413_158_523, 640_651_987, 741_201_253, 986_437_811]
MINHASH_B = [524_287_093, 936_172_081, 112_272_535, 819_226_657,
             430_867_993, 274_876_129, 768_614_311, 582_917_569,
             155_189_249, 672_287_461, 989_712_907, 363_247_393]


def _uhash(i: int):
    """Single-arg lambda for transform(); arity matters — a second (default)
    parameter would make Spark pass the element index into it."""
    return lambda h: (F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i])) % F.lit(
        MINHASH_P
    )


def _minhash_sig(hs_df: DataFrame) -> DataFrame:
    sig = F.array(
        *[
            F.array_min(F.transform(F.col("hs"), _uhash(i)))
            for i in range(NUM_HASHES)
        ]
    )
    return hs_df.select("doc_id", "hs", sig.alias("sig"))


def _minhash_candidates(sig: DataFrame) -> DataFrame:
    """Candidate pairs of a banded :func:`signature_table`: the
    ``(band, bhash)`` bucket self-join with ``doc_a < doc_b``, each pair
    once, with both shingle-hash sets (``sha``, ``shb``) for the exact
    verify.  A caller that drops ``sha``/``shb`` never reads them: the
    optimizer prunes them out of the dedup and the scan."""
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.hs").alias("sha"),
            F.col("b.hs").alias("shb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: MinHash banding for candidates, exact Jaccard verify.

    Pipeline: shingle -> hash once -> 12-way universal-hash minhash signature
    -> 4 bands of 3 -> bucket-join on (band, band-hash) -> exact Jaccard on
    the hashed shingle sets -> keep pairs >= 0.5.  The only shuffles are the
    band bucket-join and the final distinct; candidate volume is
    data-dependent, never O(n^2).  Jaccard is computed on the 32-bit shingle
    hashes (identical on both engines, so oracle-exact).
    """
    # Materialize the signature table once: both sides of the self-join (and
    # the Jaccard verify) reuse it instead of recomputing the shingle+hash
    # subtree per branch.  At 100 TB this is "write the signature table to
    # storage"; in-session it's the session-memoized artifact shared with
    # dedup_minhash_containment and eval_minhash_pr (~1.5 KB/doc).
    # ONE definition of the banded-signature pipeline (signature_table),
    # shared with streaming dedup-at-ingest — a drifted copy here would
    # silently desynchronize the batch and streaming near-dup paths
    cand = _minhash_candidates(shared_signatures(spark, sf_dir))
    jac = F.size(F.array_intersect("sha", "shb")) / F.size(F.array_union("sha", "shb"))
    return (
        cand.select(
            "doc_a", "doc_b", F.round(jac, 4).cast("decimal(7,4)").alias("jaccard")
        )
        .filter(F.col("jaccard") >= JACCARD_MIN)
    )


CONTAIN_MIN_Q = 700_000  # max-containment keep threshold, scaled 1e6 (0.70)


def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT dedup: |A∩B|/|A| and |A∩B|/|B| over the
    MinHash-LSH candidate pairs — catches quote-inclusion/superset
    duplication that symmetric Jaccard misses (a short doc fully embedded
    in a long one has low Jaccard but containment ~1 on the short side).

    Same band bucket-join as :func:`dedup_minhash_lsh` (shared
    ``signature_table``), so candidate volume stays ~|near-dup pairs|.
    Containments are emitted as TRUNCATING INTEGER division scaled 1e6
    (``x DIV y`` == DuckDB ``//``) — bit-identical cross-engine, no float
    in the hash surface.  Kept pairs: max containment >= 0.70.
    """
    cand = _minhash_candidates(shared_signatures(spark, sf_dir))
    sized = cand.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("sha", "shb")).cast("long").alias("inter"),
        F.size("sha").cast("long").alias("n_a"),
        F.size("shb").cast("long").alias("n_b"),
    )
    scored = sized.select(
        "doc_a",
        "doc_b",
        "inter",
        "n_a",
        "n_b",
        F.expr("(inter * 1000000) div n_a").alias("cont_a_q"),
        F.expr("(inter * 1000000) div n_b").alias("cont_b_q"),
    )
    return scored.filter(
        F.greatest("cont_a_q", "cont_b_q") >= CONTAIN_MIN_Q
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard on sampled id pairs (the verify primitive alone)."""
    sh = _doc_shingles(spark, sf_dir)
    a = sh.filter(F.col("doc_id") % 25 == 0).alias("a")
    # b.doc_id = a.doc_id + 1 implies b.doc_id % 25 == 1: push that filter so
    # the b side shingles only 1/25th of the corpus instead of all of it
    b = sh.filter(F.col("doc_id") % 25 == 1).alias("b")
    pair = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
    jac = F.size(F.array_intersect("a.sh", "b.sh")) / F.size(
        F.array_union("a.sh", "b.sh")
    )
    return pair.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(jac, 4).cast("decimal(7,4)").alias("jaccard"),
    )


# --- SimHash ------------------------------------------------------------------


_SWAR_STRIDE = 20  # 3 packed 20-bit popcount fields per int64 accumulator
_SWAR_FIELDS = SIMHASH_BITS // _SWAR_STRIDE
_SWAR_MASK = sum(1 << (_SWAR_STRIDE * j) for j in range(_SWAR_FIELDS))


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over the word multiset, via explode + one groupBy.

    bit_k(doc) = 1 iff sum over words of (+1 if bit k of h(word) else -1) > 0,
    i.e. iff 2 * ones_k > n_words.  The per-bit ones-counts are accumulated
    SWAR-style: group g sums ``(h >> g) & MASK`` where MASK has bits
    0/20/40 set, packing THREE 20-bit popcount fields into one int64 sum —
    20 branch-free aggregates instead of 60 conditional ones (the naive
    per-bit form was the bench's cost after the 32→60-bit widening), and
    per-doc aggregate state shrinks 61 -> 21 longs through the shuffle.
    Field capacity is 2^20-1 words per doc (a million-word doc is a book;
    anything near it gets pre-chunked by text_chunk long before
    fingerprinting).  The explode/groupBy shape gets map-side partial
    aggregation; at scale it is one shuffle on doc_id.
    """
    d = load_spread(spark, sf_dir, "documents")
    # hash each word ONCE into a column; the aggregates below then do only
    # a shift+mask each (inline, phash60 would be evaluated per group)
    w = d.select(
        "doc_id", F.explode(words(F.col("text"))).alias("word")
    ).select("doc_id", phash60(F.col("word"), "sh").alias("h"))
    packed_sums = [
        F.sum(
            F.shiftright(F.col("h"), g).bitwiseAND(F.lit(_SWAR_MASK))
        ).alias(f"g{g}")
        for g in range(_SWAR_STRIDE)
    ]
    sums = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nw"), *packed_sums
    )
    sim = None
    for k in range(SIMHASH_BITS):
        g, j = k % _SWAR_STRIDE, k // _SWAR_STRIDE
        ones = F.shiftright(F.col(f"g{g}"), _SWAR_STRIDE * j).bitwiseAND(
            F.lit((1 << _SWAR_STRIDE) - 1)
        )
        term = F.when(ones * 2 > F.col("nw"), F.lit(1 << k)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.cast("long").alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 60-bit SimHash fingerprint (oracle checks the full sketch)."""
    return _simhash(spark, sf_dir)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash: 4x15-bit band blocking, Hamming-verified.

    Served from the session-scoped shared artifact (see
    :func:`shared_dup_pairs`); the band-join pass below runs once per
    (session, dataset) and every curation consumer reuses it.

    Band-saturation regime (round-8 pair harness, 200k synthesized docs
    with corpus-scaled vocabulary): 1.1x wall for 8x rows — LINEAR; the
    chance-collision term (~4 n^2 / 2^16 candidate pairs across the four
    32k-bucket bands) stays below the linear fingerprint cost until
    n ~ 10^7 docs, where it reaches corpus scale (~6e9 candidates at
    n=10^7).  That floor is inherent to exact-recall banding: radius-r
    pigeonhole needs r+1 bands, so band width is fixed at
    SIMHASH_BITS/(r+1) — widening the fingerprint scales the Hamming
    radius with it and leaves the per-band width constant.  Past ~10^7
    the standard remedies trade recall for volume: the frequent-bucket
    cap (skip band buckets larger than ~corpus_dup_family_max, the
    Manku-et-al. guard) or a coarse exact-recall-lossy secondary key.
    Within this repo's contract the operator stays exact; the regime and
    its knobs are the documented scale boundary (the
    ``dedup_embedding_cosine`` precedent)."""
    return artifact(
        spark, sf_dir, "pairs", lambda: _simhash_pairs_uncached(spark, sf_dir)
    )


def _simhash_pairs_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reused by both join sides; the registry's dedup_simhash plan matches
    # it, so Spark serves that query from this copy too
    sim = artifact(spark, sf_dir, "simhash", lambda: _simhash(spark, sf_dir))
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("simhash"), 15 * j)
                .bitwiseAND(F.lit(32767))
                .alias("byte"),
            )
            for j in range(SIMHASH_BANDS)
        ]
    )
    ex = sim.select("doc_id", "simhash", F.explode(bands).alias("bd")).select(
        "doc_id", "simhash", "bd.band", "bd.byte"
    )
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


# --- embedding cosine near-dup ------------------------------------------------


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs within label blocks: exact cosine >= 0.40.

    Blocked all-pairs scan — the standard dedup shape at scale: a cheap
    blocking key (here the cluster label; in production a coarse quantizer
    or LSH bucket) turns O(n^2) into sum of per-block squares, and the
    equi-join on the block key shuffles instead of broadcasting a cartesian
    product.

    **Quadratic BY CONTRACT when the block-key cardinality is fixed**
    (r07 pair-regime measurement: 4x rows -> 15.1x wall at 12.5k -> 50k
    vectors with the fixture's 10 labels — pure O(n^2/L), and the OUTPUT
    itself can be Theta(n^2/L) when blocks are self-similar, so no plan
    change can fix it without changing semantics).  At corpus scale the
    blocking key must grow with n: that is exactly ``dedup_semantic``
    (sqrt(n) IVF cells, measured 14.9x wall for 8x rows against its
    documented n^1.5 bound) or the approximate ``ann_lsh_topk`` — this
    operator is the exact small-block path.
    """
    e = load_spread(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").alias("v"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )  # NOTE: deliberately NOT persisted — caching here forces the join to
    # scan the InMemoryRelation per pair and is ~14x slower than recomputing
    # the cheap norm projection inside codegen.
    a, b = e.alias("a"), e.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).cast("decimal(9,6)").alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_MIN)
    )


# --- oracles ------------------------------------------------------------------

_SHINGLES_CTE = f"""
docs AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
sh AS (SELECT doc_id, {word_shingles_sql('w')} AS sh FROM docs
       WHERE len({word_shingles_sql('w')}) > 0)
"""

_HASHED_SHINGLES_CTE = f"""
{_SHINGLES_CTE},
hsh AS (SELECT doc_id,
               list_distinct(list_transform(sh, s -> {phash32_sql('s', 'shg')})) AS hs
        FROM sh)
"""

_MINHASH_SIG_SQL = "[" + ", ".join(
    f"list_min(list_transform(hs, h -> ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}))"
    for i in range(NUM_HASHES)
) + "]"

_BANDS_SQL = ", ".join(
    "({b}, {h})".format(
        b=b,
        h=phash32_sql(
            " || '|' || ".join(
                f"sig[{b * ROWS_PER_BAND + r + 1}]::VARCHAR"
                for r in range(ROWS_PER_BAND)
            ),
            f"band{b}",
        ),
    )
    for b in range(BANDS)
)

# Below this pair count the component step runs as driver-side union-find:
# the DISTRIBUTED work is the pair generation (the O(n^2)-avoiding sketch
# join); the surviving pair set is its tiny output, and α(E) union-find on
# it beats scheduling distributed rounds by orders of magnitude.
_UNION_FIND_MAX_PAIRS = 2_000_000


# --- shared near-dup artifact -------------------------------------------------
#
# The batch curation family (corpus_curate, corpus_split_leakage_safe,
# dedup_keep_canonical, dedup_pagerank, dedup_components) all consume the
# SAME SimHash band-join pass.  Production funnels materialize that pass once
# (the streaming side already does: ``streaming.dedup_ingest`` persists a
# signature store and band-joins only new docs against it); the batch family
# mirrors that here with session artifacts (``_artifacts``) plus an optional
# on-disk parquet form (:func:`materialize_dup_artifacts`).


def shared_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash near-dup pair set ``(doc_a, doc_b)``, computed once per
    (session, dataset) and persisted for every downstream consumer.

    The pair set is the distributed band join's OUTPUT — ~|near-dup pairs|
    rows (8-byte ids, no text), orders of magnitude smaller than the corpus
    — so persisting it is bounded and the four curation queries share one
    generation pass instead of re-running the corpus-scale join each.
    Delegates to :func:`dedup_simhash_pairs` — ONE memoize site, so the two
    entry points can never cache divergent frames under the same key."""
    return dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")


def shared_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized banded MinHash :func:`signature_table` over the
    corpus — the third shared artifact (pairs, components, signatures).
    The signature build is a corpus-scale shingle+permutation pass that
    ``dedup_minhash_lsh``, ``dedup_minhash_containment``, and
    ``eval_minhash_pr`` each repeated; at 100 TB it is the signature
    table a funnel writes to storage once (the streaming twin is
    ``dedup_ingest``'s incremental store)."""
    return artifact(
        spark,
        sf_dir,
        "sigs",
        lambda: signature_table(load_spread(spark, sf_dir, "documents")),
    )


def shared_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup connected components, memoized like :func:`shared_dup_pairs`
    (the clustering itself is pair-scale; the win is sharing the pair
    generation and not re-running the union-find per consumer)."""
    return artifact(
        spark,
        sf_dir,
        "components",
        lambda: _components_over(spark, shared_dup_pairs(spark, sf_dir)),
    )


def materialize_dup_artifacts(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict:
    """Write the near-dup pair/component artifact as parquet and register
    the parquet-backed frames as the session's shared artifact, so later
    sessions (or other consumers) read the materialized form instead of
    re-running the band join — the batch analog of the streaming signature
    store (``streaming.dedup_ingest.dup_pairs``)."""
    import os

    pairs_path = os.path.join(out_dir, "dup_pairs")
    comp_path = os.path.join(out_dir, "dup_components")
    # full pair frame incl. hamming so the parquet-backed artifact serves
    # dedup_simhash_pairs verbatim, not just the 2-col consumers
    dedup_simhash_pairs(spark, sf_dir).write.mode("overwrite").parquet(pairs_path)
    shared_components(spark, sf_dir).write.mode("overwrite").parquet(comp_path)
    register(spark, sf_dir, "pairs", spark.read.parquet(pairs_path))
    register(spark, sf_dir, "components", spark.read.parquet(comp_path))
    return {"pairs": pairs_path, "components": comp_path}


def _components_distributed(edges: DataFrame) -> DataFrame:
    """Iterative min-label propagation over a symmetric (src, dst) edge list.

    The iterative-algorithm pattern on Spark: the driver coordinates
    rounds, each round is one fully distributed join + partial-aggregated
    min; ``localCheckpoint`` truncates lineage so the plan does not grow
    with iterations.  Rounds needed ~ O(log(cluster diameter)).  At 100 TB
    this runs with the edge list hash-partitioned on src; each round is a
    co-partitioned join (one shuffle), and convergence is detected with a
    count of changed labels.
    """
    edges = edges.persist()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    while True:
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("label").alias("nlabel"))
        )
        new = (
            labels.join(neighbor_min, labels.doc_id == F.col("nid"), "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    edges.unpersist()
    return labels.select("doc_id", F.col("label").alias("component_id"))


def _components_unionfind(spark: SparkSession, pair_rows) -> DataFrame:
    """Path-compressed union-find on a collected pair list (small-side path)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pair_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min so the root IS the component id
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    rows = sorted((x, find(x)) for x in parent)
    return spark.createDataFrame(rows, "doc_id LONG, component_id LONG")


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster canonicalization: connected components over the
    SimHash near-dup pairs; component_id = min doc_id of the cluster.

    Adaptive execution: pair GENERATION is always distributed (the sketch
    band join that avoids O(n^2)); the component step on the surviving
    pairs collects + union-finds when the pair set is small (its size is
    known from the generation pass), and falls back to distributed
    min-label propagation (:func:`_components_distributed`) above
    ``_UNION_FIND_MAX_PAIRS``.  The same two-tier shape is how production
    dedup pipelines run: sketch join at data scale, cluster bookkeeping at
    pair scale.
    """
    return shared_components(spark, sf_dir)


def _components_over(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """The two-tier component step over an already-generated pair set."""
    pairs = pairs.select("doc_a", "doc_b")
    collected = pairs.limit(_UNION_FIND_MAX_PAIRS + 1).collect()
    if len(collected) <= _UNION_FIND_MAX_PAIRS:
        return _components_unionfind(spark, [(r[0], r[1]) for r in collected])
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst")
    return _components_distributed(edges)


_SIMHASH_CTE = f"""
docs AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
wx AS (SELECT doc_id, unnest(w) AS word FROM docs),
hs AS (SELECT doc_id, {phash60_sql('word', 'sh')} AS h FROM wx),
bitsums AS (
  SELECT doc_id,
         {", ".join(f"sum(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS s{k}" for k in range(SIMHASH_BITS))}
  FROM hs GROUP BY doc_id
),
simh AS (
  SELECT doc_id,
         CAST({" + ".join(f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(SIMHASH_BITS))} AS BIGINT) AS simhash
  FROM bitsums
)
"""

ORACLE = {
    "dedup_exact_stats": """
        SELECT count(*) AS n_docs,
               count(DISTINCT md5(text)) AS n_distinct,
               count(*) - count(DISTINCT md5(text)) AS n_redundant
        FROM documents
    """,
    "dedup_exact_groups": """
        SELECT min(doc_id) AS canonical_doc_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text) HAVING count(*) > 1
    """,
    "dedup_minhash_lsh": f"""
        WITH {_HASHED_SHINGLES_CTE},
        sig AS (SELECT doc_id, hs, {_MINHASH_SIG_SQL} AS sig FROM hsh),
        bands AS (
          SELECT doc_id, hs, b.band, b.bhash
          FROM sig, LATERAL (VALUES {_BANDS_SQL}) AS b(band, bhash)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          a.hs AS sha, b.hs AS shb
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(round(len(list_intersect(sha, shb))::DOUBLE
                    / len(list_distinct(list_concat(sha, shb))), 4) AS DECIMAL(7,4)) AS jaccard
        FROM cand
        WHERE CAST(round(len(list_intersect(sha, shb))::DOUBLE
                    / len(list_distinct(list_concat(sha, shb))), 4) AS DECIMAL(7,4)) >= {JACCARD_MIN}
    """,
    "dedup_minhash_containment": f"""
        WITH {_HASHED_SHINGLES_CTE},
        sig AS (SELECT doc_id, hs, {_MINHASH_SIG_SQL} AS sig FROM hsh),
        bands AS (
          SELECT doc_id, hs, b.band, b.bhash
          FROM sig, LATERAL (VALUES {_BANDS_SQL}) AS b(band, bhash)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          a.hs AS sha, b.hs AS shb
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
        ),
        sized AS (
          SELECT doc_a, doc_b,
                 len(list_intersect(sha, shb))::BIGINT AS inter,
                 len(sha)::BIGINT AS n_a, len(shb)::BIGINT AS n_b
          FROM cand
        )
        SELECT doc_a, doc_b, inter, n_a, n_b,
               (inter * 1000000) // n_a AS cont_a_q,
               (inter * 1000000) // n_b AS cont_b_q
        FROM sized
        WHERE greatest((inter * 1000000) // n_a,
                       (inter * 1000000) // n_b) >= {CONTAIN_MIN_Q}
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLES_CTE}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(round(len(list_intersect(a.sh, b.sh))::DOUBLE
                    / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS DECIMAL(7,4)) AS jaccard
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 25 = 0
    """,
    "dedup_simhash": f"""
        WITH {_SIMHASH_CTE}
        SELECT doc_id, simhash FROM simh
    """,
    "dedup_simhash_pairs": f"""
        WITH {_SIMHASH_CTE},
        ex AS (
          SELECT doc_id, simhash, b.band, (simhash >> (15 * b.band)) & 32767 AS byte
          FROM simh, LATERAL (VALUES (0), (1), (2), (3)) AS b(band)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          a.simhash AS ha, b.simhash AS hb
          FROM ex a JOIN ex b
            ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
    """,
    "dedup_embedding_cosine": f"""
        WITH e AS (
          SELECT vec_id, label, embedding AS v,
                 sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
                      x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b)) AS norm
          FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(round(
                 list_reduce(list_prepend(0.0, list_transform(list_zip(a.v, b.v),
                      p -> p[1]::DOUBLE * p[2]::DOUBLE)), (x, y) -> x + y)
                 / (a.norm * b.norm), 6) AS DECIMAL(9,6)) AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE CAST(round(
                 list_reduce(list_prepend(0.0, list_transform(list_zip(a.v, b.v),
                      p -> p[1]::DOUBLE * p[2]::DOUBLE)), (x, y) -> x + y)
                 / (a.norm * b.norm), 6) AS DECIMAL(9,6)) >= {COSINE_MIN}
    """,
}

def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual deliverable: the corpus with every
    near-dup cluster collapsed to its canonical member (min doc_id).

    Non-canonical members (doc_id != component_id) are removed with a
    left-anti join — at 100 TB the removal list is tiny relative to the
    corpus, so AQE broadcasts it and the full-corpus side never shuffles.
    """
    removals = dedup_components(spark, sf_dir).filter(
        F.col("doc_id") != F.col("component_id")
    ).select("doc_id")
    d = load_spread(spark, sf_dir, "documents")
    return d.join(removals, "doc_id", "left_anti").select(
        "doc_id", "source", "lang", "n_chars"
    )


PASSAGE_W = 5  # words per passage chunk


def dedup_passage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact-duplicate profile: chunk each doc into
    ``PASSAGE_W``-word passages, hash them, and report per doc how many of
    its passages occur anywhere else in the corpus (boilerplate load).

    Scale shape: the chunking is a map-only array fold; the corpus-wide
    frequency count shuffles 8-byte 60-bit passage hashes (never passage text; 60-bit so duplicate counts stay collision-clean past 10^9 passages),
    partial-agg'd map-side; the join back to docs is a shuffle on the same
    hash key so AQE can co-plan the two.  Output is O(n_docs).
    """
    d = load_spread(spark, sf_dir, "documents")
    w = words(F.col("text"))
    n_chunks = F.ceil(F.size(w) / F.lit(PASSAGE_W)).cast("int")
    chunks = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(w, i * PASSAGE_W + 1, F.lit(PASSAGE_W))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    e = d.select("doc_id", F.explode(chunks).alias("chunk")).select(
        "doc_id", phash60(F.col("chunk"), "pass").alias("ch")
    )
    cnt = e.groupBy("ch").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        e.join(cnt, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared_chunks",
            F.round(F.col("n_shared_chunks") / F.col("n_chunks"), 4)
            .cast("decimal(7,4)")
            .alias("shared_frac"),
        )
    )


SUBSTR_W = 8  # words per sliding window


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplication profile (the public "Deduplicating
    Training Data Makes Language Models Better" idea, stride-1 window
    formulation): slide an 8-word window over every document, hash each
    window, and report per doc the fraction of window positions whose exact
    text occurs anywhere else in the corpus (or again in the same doc).

    Versus :func:`dedup_passage_exact` (disjoint chunks): stride-1 windows
    catch UNALIGNED cross-document repeats — a duplicated paragraph that
    starts mid-chunk is invisible to disjoint chunking but lights up here.
    The suffix-array formulation finds arbitrary-length repeats; the fixed
    window is its bounded, partial-aggregatable approximation (a length-L
    repeat appears as L-W+1 duplicated windows).

    Scale: ~|tokens| window hashes per doc (W× more than chunking) but the
    shuffle still carries only 8-byte hashes with map-side combine; at
    100 TB this is the standard two-pass profile (hash counts, join back).
    """
    d = load_spread(spark, sf_dir, "documents")
    grams = word_grams(words(F.col("text")), SUBSTR_W)
    e = d.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", phash60(F.col("g"), "xs").alias("gh")
    )
    cnt = e.groupBy("gh").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        e.join(cnt, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 4)
            .cast("decimal(7,4)")
            .alias("dup_frac"),
        )
    )


def dedup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph degree profile: how many docs have 1, 2, … near-dup
    neighbors — the shape diagnostic a curation run reads BEFORE collapsing
    clusters (a fat-tailed degree histogram means a template/boilerplate hub
    that union-find will glue into one mega-component; see the reference
    pipeline's verification habit of inspecting counts before acting,
    test-pipeline.sh:31-40).

    Consumes the shared near-dup pair artifact (:func:`shared_dup_pairs`),
    so after any other curation-family query has run, this is pair-scale
    work only: one unionAll over 8-byte id columns, two partial-agg'd
    shuffles whose output is O(distinct degrees) — never touches the corpus.
    """
    pairs = shared_dup_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
    )


def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph cohesion: edge/triangle/wedge census plus the global
    transitivity ratio — the one-row diagnostic that distinguishes tight
    duplicate CLIQUES (transitivity near 1: safe to collapse to one
    canonical doc) from star-shaped boilerplate HUBS (many wedges, few
    triangles: collapsing would glue unrelated docs), read before acting on
    the graph the same way the reference verifies counts before mutating
    state (test-pipeline.sh:31-40).

    Consumes the shared pair artifact (:func:`shared_dup_pairs`), so this is
    pair-scale work only.  Triangles are counted by the standard oriented
    two-join (edges kept as doc_a < doc_b, so each triangle a<b<c is counted
    exactly once); wedges come from the degree aggregate as sum(C(deg, 2)).
    Transitivity = 3*triangles/wedges is emitted as truncating integer
    division scaled 1e6 — bit-identical cross-engine.  Scale shape: two
    shuffles over 8-byte id pairs; the wedge join fan-out is bounded by the
    near-dup degree distribution, never corpus-size.
    """
    pairs = shared_dup_pairs(spark, sf_dir)
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    wed = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("degree * (degree - 1) div 2")).cast("long").alias("n_wedges"),
    )
    edges = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        edges.crossJoin(F.broadcast(wed))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.expr(
                "(3 * n_triangles * 1000000) div nullif(n_wedges, 0)"
            ).alias("transitivity_q"),
        )
    )


# Ground-truth blocking for the LSH eval: docs whose n_chars fall in the
# same or adjacent 16-char window.  Every observed true near-dup pair in the
# fixtures differs by <= 8 chars, and length-window blocking is the standard
# linear-cost way to sample a verifiable pair universe (at 100 TB this eval
# runs over a sampled slice; the point is measuring the sketch, not scanning
# every pair).
EVAL_BLK = 16


def eval_minhash_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH candidate generator against exact
    ground truth — the acceptance gate a curation team runs BEFORE trusting
    banded signatures to dedup 100 TB.

    Universe: doc pairs whose lengths land in the same or adjacent
    ``EVAL_BLK``-char window (equi-join on an exploded block key — no range
    join, no O(n^2)).  Ground truth: exact Jaccard on the hashed shingle
    sets >= JACCARD_MIN (same rounded form the verify step uses).
    Prediction: raw band collisions from the shared ``signature_table`` —
    the signature-level decision, BEFORE Jaccard verification, because that
    is the stage whose error rate banding determines.  Output is one row of
    integer counts plus 1e6-scaled truncating-division precision/recall.

    Scale shape: the TN quadrant of the universe contributes to NO metric,
    so the pair universe is never materialized.  Ground-truth pairs come
    from a shingle-hash equi-join (output ~ shared-shingle occurrences —
    near-dup pairs only, not |near-length pairs|), with Jaccard rebuilt
    from the match count as ``i / (na + nb - i)``; predicted pairs get
    universe membership from two dimension-scale block lookups.  An
    earlier draft joined full shingle ARRAYS onto every near-length pair
    (~1.2M pairs x 2 set ops at sf0.1) — 4x the wall of this form.
    """
    pairs = minhash_eval_pairs(spark, sf_dir)
    truth_bp = int(JACCARD_MIN * 10000)
    return pairs.select(
        (F.col("jac_bp") >= truth_bp).alias("is_true"), "is_pred"
    ).agg(
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).cast("long").alias("n_truth"),
        F.sum(F.when(F.col("is_pred"), 1).otherwise(0)).cast("long").alias("n_pred"),
        F.sum(F.when(F.col("is_true") & F.col("is_pred"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("is_pred") & ~F.col("is_true"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("is_true") & ~F.col("is_pred"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
    ).select(
        "n_truth", "n_pred", "tp", "fp", "fn",
        F.expr("(tp * 1000000) div nullif(n_pred, 0)").alias("precision_q"),
        F.expr("(tp * 1000000) div nullif(n_truth, 0)").alias("recall_q"),
    )


def minhash_eval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evaluation pair frame under ``eval_minhash_pr`` and
    ``eval_minhash_threshold_sweep``: every length-blocked universe pair
    with at least one shared shingle OR a band collision, carrying its
    exact Jaccard in basis points (``jac_bp``, 1e-4 units — the rounded
    DECIMAL(7,4) scaled exactly) and the banded-LSH prediction flag.
    TN universe pairs with zero shared shingles and no collision never
    materialize (they contribute to no metric at any threshold).

    Session-memoized ("mh_eval_pairs", the shared_dup_pairs pattern, r08):
    the frame is pair-scale (near-dup + collision pairs only — four narrow
    columns, bounded like the pairs artifact), but its BUILD is the
    corpus-scale shingle equi-join, which ``eval_minhash_pr`` and
    ``eval_minhash_threshold_sweep`` each re-ran per invocation; one memo
    site so both gates grade the identical frame."""
    from functools import partial

    return artifact(
        spark, sf_dir, "mh_eval_pairs", partial(_minhash_eval_pairs_build, spark, sf_dir)
    )


def _minhash_eval_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    sig = shared_signatures(spark, sf_dir)
    # band 0 carries one (doc_id, hs) row per doc — a free projection of the
    # persisted signature table, where dropDuplicates(doc_id) would shuffle
    # BANDS copies of every shingle array
    hsd = (
        sig.filter(F.col("band") == 0)
        .select("doc_id", "hs")
        .join(
            docs.select("doc_id", F.expr(f"n_chars div {EVAL_BLK}").alias("blk")),
            "doc_id",
        )
        .select("doc_id", "blk", F.size("hs").alias("n_sh"), "hs")
    )
    # each qualifying pair (|blk_a - blk_b| <= 1) shares exactly one exploded
    # key equal to greatest(blk_a, blk_b): same-window pairs share two keys
    # {blk, blk+1} but only k == blk passes; adjacent-window pairs share only
    # k == greatest — so no pair-level dedup is ever needed.
    sh_ex = hsd.select(
        "doc_id",
        "blk",
        "n_sh",
        F.explode(F.array(F.col("blk"), F.col("blk") + 1)).alias("k"),
        F.col("hs"),
    ).select("doc_id", "blk", "n_sh", "k", F.explode("hs").alias("h"))
    a, b = sh_ex.alias("a"), sh_ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.k") == F.greatest(F.col("a.blk"), F.col("b.blk"))),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    # hs is distinct per doc, so |union| = na + nb - i exactly; same rounded
    # decimal form the array_intersect/array_union draft produced
    jac = F.round(
        F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 4
    ).cast("decimal(7,4)")
    jacd = inter.select(
        "doc_a",
        "doc_b",
        (jac * 10000).cast("long").alias("jac_bp"),
    )
    blk = hsd.select("doc_id", "blk")
    pred = (
        _minhash_candidates(sig)
        # universe membership (ground truth is defined): adjacent length
        # blocks — two dimension-scale lookups on the tiny pair set
        .join(blk.select(F.col("doc_id").alias("doc_a"), F.col("blk").alias("blk_a")), "doc_a")
        .join(blk.select(F.col("doc_id").alias("doc_b"), F.col("blk").alias("blk_b")), "doc_b")
        .filter(F.abs(F.col("blk_a") - F.col("blk_b")) <= 1)
        .select("doc_a", "doc_b", F.lit(True).alias("is_pred"))
    )
    return jacd.join(pred, ["doc_a", "doc_b"], "full").select(
        "doc_a",
        "doc_b",
        F.coalesce("jac_bp", F.lit(0)).alias("jac_bp"),
        F.coalesce("is_pred", F.lit(False)).alias("is_pred"),
    )


SWEEP_TAUS_BP = (3000, 4000, 5000, 6000, 7000)


def eval_minhash_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup CALIBRATION table: ``eval_minhash_pr``'s gate swept
    over candidate truth thresholds — for each Jaccard cutoff tau, the
    precision/recall the CURRENT banding (NUM_HASHES/BANDS tuned around
    0.5) would deliver if the curation team defined "duplicate" at tau.
    Banding theory says precision collapses below the S-curve knee and
    recall decays above it; this emits the measured curve so the
    threshold choice is a table lookup, not folklore — the dedup twin of
    ``eval_quality_threshold_sweep``.

    One pass: the shared evaluation pair frame (near-dup scale, never the
    TN universe) crossed with the |taus|-row literal grid, one grouped
    aggregate.  Rides the session signature artifact like the PR gate.
    """
    pairs = minhash_eval_pairs(spark, sf_dir)
    grid = spark.createDataFrame(
        [(t,) for t in SWEEP_TAUS_BP], "tau_bp long"
    )
    return (
        pairs.crossJoin(F.broadcast(grid))
        .select(
            "tau_bp",
            (F.col("jac_bp") >= F.col("tau_bp")).alias("is_true"),
            "is_pred",
        )
        .groupBy("tau_bp")
        .agg(
            F.sum(F.when(F.col("is_true"), 1).otherwise(0))
            .cast("long")
            .alias("n_truth"),
            F.sum(F.when(F.col("is_pred"), 1).otherwise(0))
            .cast("long")
            .alias("n_pred"),
            F.sum(F.when(F.col("is_true") & F.col("is_pred"), 1).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(F.col("is_pred") & ~F.col("is_true"), 1).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when(F.col("is_true") & ~F.col("is_pred"), 1).otherwise(0))
            .cast("long")
            .alias("fn"),
        )
        .select(
            "tau_bp", "n_truth", "n_pred", "tp", "fp", "fn",
            F.expr("(tp * 1000000) div nullif(n_pred, 0)").alias("precision_q"),
            F.expr("(tp * 1000000) div nullif(n_truth, 0)").alias("recall_q"),
        )
    )


QUERIES = {
    "dedup_exact_stats": dedup_exact_stats,
    "dedup_passage_exact": dedup_passage_exact,
    "dedup_exact_substring": dedup_exact_substring,
    "dedup_exact_groups": dedup_exact_groups,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_containment": dedup_minhash_containment,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_components": dedup_components,
    "dedup_keep_canonical": dedup_keep_canonical,
    "dedup_graph_degree": dedup_graph_degree,
    "dedup_graph_triangles": dedup_graph_triangles,
    "eval_minhash_pr": eval_minhash_pr,
    "eval_minhash_threshold_sweep": eval_minhash_threshold_sweep,
    "dedup_embedding_cosine": dedup_embedding_cosine,
}

ORACLE["dedup_graph_degree"] = f"""
    WITH {_SIMHASH_CTE},
    ex AS (
      SELECT doc_id, simhash, b.band, (simhash >> (15 * b.band)) & 32767 AS byte
      FROM simh, LATERAL (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.simhash AS ha, b.simhash AS hb
      FROM ex a JOIN ex b
        ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
    ),
    p AS (SELECT doc_a, doc_b FROM cand
          WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}),
    deg AS (
      SELECT doc_id, count(*)::BIGINT AS degree
      FROM (SELECT doc_a AS doc_id FROM p
            UNION ALL SELECT doc_b AS doc_id FROM p)
      GROUP BY doc_id)
    SELECT degree, count(*)::BIGINT AS n_docs, min(doc_id) AS min_doc
    FROM deg GROUP BY degree
"""

ORACLE["dedup_graph_triangles"] = f"""
    WITH {_SIMHASH_CTE},
    ex AS (
      SELECT doc_id, simhash, b.band, (simhash >> (15 * b.band)) & 32767 AS byte
      FROM simh, LATERAL (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.simhash AS ha, b.simhash AS hb
      FROM ex a JOIN ex b
        ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
    ),
    p AS (SELECT doc_a, doc_b FROM cand
          WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}),
    deg AS (
      SELECT doc_id, count(*)::BIGINT AS degree
      FROM (SELECT doc_a AS doc_id FROM p
            UNION ALL SELECT doc_b AS doc_id FROM p)
      GROUP BY doc_id),
    tri AS (
      SELECT count(*)::BIGINT AS n_triangles
      FROM p e1
      JOIN p e2 ON e2.doc_a = e1.doc_b
      JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
    wed AS (
      SELECT count(*)::BIGINT AS n_nodes,
             sum(degree * (degree - 1) // 2)::BIGINT AS n_wedges
      FROM deg),
    ed AS (SELECT count(*)::BIGINT AS n_edges FROM p)
    SELECT n_nodes, n_edges, n_triangles, n_wedges,
           (3 * n_triangles * 1000000) // nullif(n_wedges, 0) AS transitivity_q
    FROM ed, wed, tri
"""

ORACLE["eval_minhash_pr"] = f"""
    WITH {_HASHED_SHINGLES_CTE},
    sig AS (SELECT doc_id, hs, {_MINHASH_SIG_SQL} AS sig FROM hsh),
    bands AS (
      SELECT doc_id, b.band, b.bhash
      FROM sig, LATERAL (VALUES {_BANDS_SQL}) AS b(band, bhash)
    ),
    blk AS (
      SELECT h.doc_id, h.hs, d.n_chars // {EVAL_BLK} AS blk
      FROM hsh h JOIN documents d ON d.doc_id = h.doc_id),
    ex AS (SELECT doc_id, hs, unnest([blk, blk + 1]) AS k FROM blk),
    uni AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.hs AS sha, b.hs AS shb
      FROM ex a JOIN ex b ON a.k = b.k AND a.doc_id < b.doc_id),
    u2 AS (
      SELECT doc_a, doc_b,
             CAST(round(len(list_intersect(sha, shb))::DOUBLE
                  / len(list_distinct(list_concat(sha, shb))), 4)
                  AS DECIMAL(7,4)) >= {JACCARD_MIN} AS is_true
      FROM uni),
    pred AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
    j AS (
      SELECT u2.is_true, (p.doc_a IS NOT NULL) AS is_pred
      FROM u2 LEFT JOIN pred p
        ON p.doc_a = u2.doc_a AND p.doc_b = u2.doc_b),
    c AS (
      SELECT sum(CASE WHEN is_true THEN 1 ELSE 0 END)::BIGINT AS n_truth,
             sum(CASE WHEN is_pred THEN 1 ELSE 0 END)::BIGINT AS n_pred,
             sum(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END)::BIGINT AS tp,
             sum(CASE WHEN is_pred AND NOT is_true THEN 1 ELSE 0 END)::BIGINT AS fp,
             sum(CASE WHEN is_true AND NOT is_pred THEN 1 ELSE 0 END)::BIGINT AS fn
      FROM j)
    SELECT n_truth, n_pred, tp, fp, fn,
           (tp * 1000000) // nullif(n_pred, 0) AS precision_q,
           (tp * 1000000) // nullif(n_truth, 0) AS recall_q
    FROM c
"""

ORACLE["eval_minhash_threshold_sweep"] = f"""
    WITH {_HASHED_SHINGLES_CTE},
    sig AS (SELECT doc_id, hs, {_MINHASH_SIG_SQL} AS sig FROM hsh),
    bands AS (
      SELECT doc_id, b.band, b.bhash
      FROM sig, LATERAL (VALUES {_BANDS_SQL}) AS b(band, bhash)
    ),
    blk AS (
      SELECT h.doc_id, h.hs, d.n_chars // {EVAL_BLK} AS blk
      FROM hsh h JOIN documents d ON d.doc_id = h.doc_id),
    ex AS (SELECT doc_id, hs, unnest([blk, blk + 1]) AS k FROM blk),
    uni AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.hs AS sha, b.hs AS shb
      FROM ex a JOIN ex b ON a.k = b.k AND a.doc_id < b.doc_id),
    u2 AS (
      SELECT doc_a, doc_b,
             (CAST(round(len(list_intersect(sha, shb))::DOUBLE
                  / len(list_distinct(list_concat(sha, shb))), 4)
                  AS DECIMAL(7,4)) * 10000)::BIGINT AS jac_bp
      FROM uni),
    pred AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
    j AS (
      SELECT coalesce(u2.jac_bp, 0) AS jac_bp,
             (p.doc_a IS NOT NULL) AS is_pred
      FROM u2 LEFT JOIN pred p
        ON p.doc_a = u2.doc_a AND p.doc_b = u2.doc_b),
    grid AS (SELECT t.tau_bp FROM (VALUES (3000), (4000), (5000), (6000), (7000)) AS t(tau_bp)),
    cls AS (
      SELECT grid.tau_bp, (j.jac_bp >= grid.tau_bp) AS is_true, j.is_pred
      FROM j CROSS JOIN grid)
    SELECT tau_bp::BIGINT AS tau_bp,
           sum(CASE WHEN is_true THEN 1 ELSE 0 END)::BIGINT AS n_truth,
           sum(CASE WHEN is_pred THEN 1 ELSE 0 END)::BIGINT AS n_pred,
           sum(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END)::BIGINT AS tp,
           sum(CASE WHEN is_pred AND NOT is_true THEN 1 ELSE 0 END)::BIGINT AS fp,
           sum(CASE WHEN is_true AND NOT is_pred THEN 1 ELSE 0 END)::BIGINT AS fn,
           (sum(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END) * 1000000)
             // nullif(sum(CASE WHEN is_pred THEN 1 ELSE 0 END), 0) AS precision_q,
           (sum(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END) * 1000000)
             // nullif(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0) AS recall_q
    FROM cls GROUP BY tau_bp
"""

# Recursive-CTE oracle for connected components: labels propagate one hop
# per recursion step (set-semantics UNION terminates it); min(label) per
# node over everything that ever reached it == the component minimum.
ORACLE["dedup_components"] = f"""
    WITH RECURSIVE {_SIMHASH_CTE},
    ex AS (
      SELECT doc_id, simhash, b.band, (simhash >> (15 * b.band)) & 32767 AS byte
      FROM simh, LATERAL (VALUES (0), (1), (2), (3)) AS b(band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.simhash AS ha, b.simhash AS hb
      FROM ex a JOIN ex b
        ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    cc AS (
      SELECT src AS doc_id, src AS label FROM edges
      UNION
      SELECT e.dst AS doc_id, c.label
      FROM cc c JOIN edges e ON c.doc_id = e.src
      WHERE c.label < e.dst
    )
    SELECT doc_id, min(label) AS component_id FROM cc GROUP BY doc_id
"""

# Canonical-corpus oracle: the components result (same recursive CTE) names
# the removals; everything else survives.
ORACLE["dedup_keep_canonical"] = f"""
    SELECT d.doc_id, d.source, d.lang, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (
      SELECT doc_id FROM ({ORACLE["dedup_components"]}) cc
      WHERE doc_id <> component_id
    )
"""

ORACLE["dedup_passage_exact"] = f"""
WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
c AS (
  SELECT doc_id,
         CASE WHEN len(w) > 0 THEN
           list_transform(
             generate_series(0, CAST(ceil(len(w) / {PASSAGE_W}.0) AS INT) - 1),
             i -> array_to_string(
                    list_slice(w, i * {PASSAGE_W} + 1, i * {PASSAGE_W} + {PASSAGE_W}),
                    ' '))
         ELSE [] END AS chunks
  FROM d),
e AS (SELECT doc_id, {phash60_sql('chunk', 'pass')} AS ch
      FROM (SELECT doc_id, unnest(chunks) AS chunk FROM c)),
cnt AS (SELECT ch, count(*) AS cnt FROM e GROUP BY ch)
SELECT e.doc_id, count(*) AS n_chunks,
       sum(CASE WHEN cnt.cnt > 1 THEN 1 ELSE 0 END) AS n_shared_chunks,
       CAST(round(sum(CASE WHEN cnt.cnt > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
            AS DECIMAL(7,4)) AS shared_frac
FROM e JOIN cnt USING (ch)
GROUP BY e.doc_id
"""


ORACLE["dedup_exact_substring"] = f"""
WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
g AS (SELECT doc_id, {word_grams_sql("w", SUBSTR_W)} AS grams FROM d),
e AS (SELECT doc_id, {phash60_sql('gram', 'xs')} AS gh
      FROM (SELECT doc_id, unnest(grams) AS gram FROM g)),
cnt AS (SELECT gh, count(*) AS cnt FROM e GROUP BY gh)
SELECT e.doc_id, count(*) AS n_windows,
       sum(CASE WHEN cnt.cnt > 1 THEN 1 ELSE 0 END) AS n_dup_windows,
       CAST(round(sum(CASE WHEN cnt.cnt > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
            AS DECIMAL(7,4)) AS dup_frac
FROM e JOIN cnt USING (gh)
GROUP BY e.doc_id
"""


PAGERANK_ITERS = 8
PAGERANK_DAMPING = 0.85  # spec'd exactly as the integer pair (85, 100) below
PAGERANK_SCALE = 10**12  # ranks are BIGINTs in units of 1e-12


def _pagerank_int_driver(edge_list, iters: int = PAGERANK_ITERS):
    """Driver-side ALL-INTEGER power iteration (exact; see dedup_pagerank).

    The update rule IS the spec both engines and both tiers implement:
      r0(v)  = SCALE div n
      c(u)   = r(u) div deg(u)                     (truncating int division)
      r'(v)  = (15*SCALE div 100) div n + (85 * Σ c(u->v)) div 100
    All operands are non-negative, so truncation == floor on every engine.
    """
    ids = sorted({x for e in edge_list for x in e})
    n = len(ids)
    deg: dict[int, int] = {}
    for s, _d in edge_list:
        deg[s] = deg.get(s, 0) + 1
    r = {v: PAGERANK_SCALE // n for v in ids}
    base = (15 * PAGERANK_SCALE // 100) // n
    for _ in range(iters):
        acc = {v: 0 for v in ids}
        for s, d in edge_list:
            acc[d] += r[s] // deg[s]
        r = {v: base + (85 * acc[v]) // 100 for v in ids}
    return [(v, r[v]) for v in ids]


def _pagerank_distributed(edges: DataFrame, iters: int = PAGERANK_ITERS) -> DataFrame:
    """Distributed integer power iteration (``edges``: symmetric src/dst).

    Contributions = rank div degree routed along edges (join on src, one
    shuffle), re-summed per dst (second shuffle), damped — in the same
    integer arithmetic as :func:`_pagerank_int_driver`, so both tiers and
    the DuckDB oracle produce IDENTICAL BIGINTs.  The degree join is
    pre-computed ONCE outside the loop; lineage is truncated with
    localCheckpoint so the plan stays flat at any iteration count — the
    GraphX/Pregel cost model: |edges| shuffle volume per iteration.
    """
    edges = edges.persist()
    nodes = edges.select(F.col("src").alias("id")).distinct().persist()
    n = nodes.count()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    routed = edges.join(deg, "src").persist()  # (src, dst, deg), loop-invariant
    init = PAGERANK_SCALE // n
    base = (15 * PAGERANK_SCALE // 100) // n
    ranks = nodes.select("id", F.lit(init).cast("long").alias("rank_q"))
    for i in range(iters):
        contribs = (
            routed.join(ranks, routed.src == ranks.id)
            .select(F.col("dst").alias("id"), F.expr("rank_q div deg").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contribs, "id", "left").select(
            "id",
            (
                F.lit(base)
                + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
            ).cast("long").alias("rank_q"),
        )
        if i % 4 == 3 and i < iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    # materialize BEFORE unpersisting: the returned plan still references
    # routed/nodes for the iterations since the last checkpoint — dropping
    # their cache first would re-run the band join once per reference when
    # the caller finally collects
    out = ranks.select(
        F.col("id").alias("doc_id"), "rank_q"
    ).localCheckpoint(eager=True)
    for df in (edges, nodes, routed):
        df.unpersist()
    return out


def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the (symmetric) SimHash near-dup graph — centrality
    scoring inside duplicate clusters, the principled alternative to
    "keep min doc_id" canonical selection.

    The iterative fixpoint is formulated in ALL-INTEGER arithmetic
    (``rank_q`` = rank in units of 1e-12; the ml_logreg quantization trick
    applied to a graph algorithm): every division is truncating integer
    division over non-negative operands, so the result is bit-identical on
    any engine — which upgrades this query from a rows-only check to an
    EXACT DuckDB oracle (8 unrolled CTE iterations).  Quantization error
    vs real-valued PageRank is bounded by iters * (1+deg) ulps of 1e-12
    (numpy-bounded in tests).

    Two-tier like :func:`dedup_components`: pair GENERATION is always the
    distributed sketch band join; the fixpoint on the surviving pairs runs
    driver-side below ``_UNION_FIND_MAX_PAIRS`` — an 8-iteration loop over
    a few hundred pairs is driver arithmetic, not a cluster job — and
    falls back to :func:`_pagerank_distributed` above it (both tiers
    produce identical integers, asserted in tests).
    """
    pairs = shared_dup_pairs(spark, sf_dir)
    collected = pairs.limit(_UNION_FIND_MAX_PAIRS + 1).collect()
    if len(collected) <= _UNION_FIND_MAX_PAIRS:
        sym = [(r[0], r[1]) for r in collected] + [(r[1], r[0]) for r in collected]
        if not sym:
            return spark.createDataFrame([], "doc_id long, rank_q long")
        return spark.createDataFrame(
            _pagerank_int_driver(sym), "doc_id long, rank_q long"
        )
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst")
    return _pagerank_distributed(edges)


QUERIES["dedup_pagerank"] = dedup_pagerank


def _pagerank_oracle() -> str:
    """Unrolled-CTE DuckDB replica of the integer power iteration."""
    scale = PAGERANK_SCALE
    head = f"""
WITH {_SIMHASH_CTE},
ex AS (
  SELECT doc_id, simhash, b.band, (simhash >> (15 * b.band)) & 32767 AS byte
  FROM simh, LATERAL (VALUES (0), (1), (2), (3)) AS b(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS ha, b.simhash AS hb
  FROM ex a JOIN ex b
    ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT src AS id FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
it0 AS (SELECT id, CAST({scale} // n AS BIGINT) AS rank_q FROM nodes CROSS JOIN nn)"""
    its = []
    for i in range(1, PAGERANK_ITERS + 1):
        its.append(f""",
it{i} AS (
  SELECT nodes.id,
         CAST(((15 * {scale} // 100) // n)
              + ((85 * coalesce(c.s, 0)) // 100) AS BIGINT) AS rank_q
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank_q // d.deg) AS s
    FROM edges e JOIN it{i - 1} r ON e.src = r.id JOIN deg d ON e.src = d.src
    GROUP BY e.dst) c ON nodes.id = c.id)""")
    return (
        head
        + "".join(its)
        + f"\nSELECT id AS doc_id, rank_q FROM it{PAGERANK_ITERS}"
    )


ORACLE["dedup_pagerank"] = _pagerank_oracle()


def signature_table(docs: DataFrame) -> DataFrame:
    """Banded MinHash signature rows for an arbitrary docs DataFrame
    (``doc_id``, ``text``): one row per (doc, band) with the band bucket
    hash and the doc's shingle-hash set — the reusable substrate for both
    the batch self-join (:func:`dedup_minhash_lsh`) and the streaming
    dedup-at-ingest store (``streaming.dedup_ingest``)."""
    sh = docs.select(
        "doc_id", word_shingles(words(F.col("text"))).alias("sh")
    ).filter(F.size("sh") > 0)
    hs = F.array_distinct(F.transform(F.col("sh"), lambda s: phash32(s, "shg")))
    sigs = _minhash_sig(sh.select("doc_id", hs.alias("hs")))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                phash32(
                    F.concat_ws(
                        "|",
                        *[
                            F.col("sig")[b * ROWS_PER_BAND + r]
                            for r in range(ROWS_PER_BAND)
                        ],
                    ),
                    f"band{b}",
                ).alias("bhash"),
            )
            for b in range(BANDS)
        ]
    )
    return sigs.select("doc_id", "hs", F.explode(bands).alias("bd")).select(
        "doc_id", "hs", "bd.band", "bd.bhash"
    )


def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: split by NEAR-DUP COMPONENT,
    not by document, so two near-duplicates can never straddle splits (the
    classic eval-contamination bug a doc-level hash split ships silently).

    group_id = the doc's duplicate-component id (its own id for
    singletons); the split decision hashes the GROUP, so every member
    inherits the same assignment — 80/10/10 via the portable hash family,
    reproducible on any cluster size.  Cost: the components pass plus one
    broadcastable left join; the split itself is map-only.
    """
    d = load(spark, sf_dir, "documents").select("doc_id")
    comp = dedup_components(spark, sf_dir)
    g = d.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component_id", "doc_id").alias("group_id")
    )
    b = phash32(F.col("group_id").cast("string"), "split") % 10
    split = (
        F.when(b < 8, F.lit("train")).when(b < 9, F.lit("val")).otherwise("test")
    )
    return g.select("doc_id", "group_id", split.alias("split"))


QUERIES["corpus_split_leakage_safe"] = corpus_split_leakage_safe

ORACLE["corpus_split_leakage_safe"] = f"""
    WITH cc AS ({ORACLE["dedup_components"]}),
    g AS (
      SELECT d.doc_id, coalesce(cc.component_id, d.doc_id) AS group_id
      FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id)
    SELECT doc_id, group_id,
           CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, group_id,
                 ({phash32_sql("group_id::VARCHAR", "split")} % 10) AS b
          FROM g)
"""


# --- Cross-source duplication matrix ------------------------------------------

XSRC_K = 8  # words per window: long enough that shared windows mean copying


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: for every pair of corpus sources, how
    much verbatim text they share — the governance diagnostic that catches
    mirror sites, syndicated feeds, and scraped re-posts BEFORE per-doc
    dedup runs (complement of ``text_decontaminate``, which sweeps the
    corpus against a held-out eval split rather than against itself).

    Overlap unit: distinct ``XSRC_K``-word windows, 60-bit hashed (32-bit
    saturates at web-corpus window counts — see :func:`phash60`).  Scale
    shape: one corpus-scale partial-agg to distinct (source, h) pairs, then
    the self-join fans out only |sources-sharing-window| per hash (bounded
    by the source count, not the corpus), and per-source totals broadcast.
    Output is |sources|^2-bounded: containment is scaled to the SMALLER
    side (mirror detection), jaccard to the union, both integer 1e6.
    """
    d = load_spread(spark, sf_dir, "documents")
    sp = (
        d.select(
            "source",
            F.explode(word_shingles(words(F.col("text")), XSRC_K)).alias("gr"),
        )
        .select("source", phash60(F.col("gr"), "xsrc").alias("h"))
        .distinct()
    )
    ns = sp.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = sp.alias("a"), sp.alias("b")
    pr = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    na = F.broadcast(ns.select(F.col("source").alias("source_a"), F.col("n").alias("n_a")))
    nb = F.broadcast(ns.select(F.col("source").alias("source_b"), F.col("n").alias("n_b")))
    return (
        pr.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr("(n_common * 1000000) div least(n_a, n_b)").alias("containment_q"),
            F.expr("(n_common * 1000000) div (n_a + n_b - n_common)").alias("jaccard_q"),
        )
    )


QUERIES["dedup_cross_source_matrix"] = dedup_cross_source_matrix

ORACLE["dedup_cross_source_matrix"] = f"""
    WITH w AS (SELECT source, {WORDS_SQL.format(expr="text")} AS w FROM documents),
    sh AS (SELECT source, unnest({word_shingles_sql("w", XSRC_K)}) AS gr FROM w),
    sp AS (SELECT DISTINCT source, {phash60_sql("gr", "xsrc")} AS h FROM sh),
    ns AS (SELECT source, count(*)::BIGINT AS n FROM sp GROUP BY source),
    pr AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*)::BIGINT AS n_common
      FROM sp a JOIN sp b ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT source_a, source_b, na.n AS n_a, nb.n AS n_b, n_common,
           (n_common * 1000000) // least(na.n, nb.n) AS containment_q,
           (n_common * 1000000) // (na.n + nb.n - n_common) AS jaccard_q
    FROM pr
    JOIN ns na ON na.source = pr.source_a
    JOIN ns nb ON nb.source = pr.source_b
"""
