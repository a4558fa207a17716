"""Text-analysis operators over the ``documents`` fixture.

Training-data-pipeline text suite (build-plan step 8): quality scoring,
n-gram-heuristic language ID, token counting (whitespace + regex + BPE-ish
estimate), and rolling-hash document fingerprinting.

All pure column expressions (split / regexp / aggregate) — no Python UDFs, no
shuffle except the final aggregations.  Every query has an exact DuckDB
oracle; double-valued ratios are rounded and cast to DECIMAL on both engines.

Scale: each operator is map-only per document (then an optional partial-agg
reduction), so it parallelizes over input splits untouched at 100 TB.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_spread
from ..functions import (
    phash60,
    WORDS_SQL,
    phash32,
    phash32_sql,
    word_grams,
    word_grams_sql,
    word_shingles,
    word_shingles_sql,
    words,
)
from ._artifacts import artifact

_W = WORDS_SQL.format(expr="text")

# Tiny stopword profiles for the language-ID heuristic.  Vocabulary chosen to
# overlap the fixture's synthetic word soup for 'en'; the де/fr profiles give
# the argmax a real decision to make.  Deterministic tie-break: score desc,
# then language name asc.
LANG_PROFILES = {
    "en": ["the", "a", "of", "and", "to", "in"],
    "de": ["der", "die", "das", "und", "ist", "von"],
    "fr": ["le", "la", "et", "les", "des", "un"],
}

STOPWORDS = sorted({w for p in LANG_PROFILES.values() for w in p})


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus token stream ``(doc_id, lang, source, word)`` —
    ``explode(words(text))`` over ``documents`` — session-memoized
    ("doc_tokens", the shared_dup_pairs pattern; r08 verdict #9).

    The whole bag-of-words family (tf-idf, hash-embed, per-source
    term stats, naive Bayes, the BPE word-frequency base) re-ran the
    same scan + regex split + explode per query; production pipelines
    materialize the tokenized view once and every stage reads it.  Rows
    where ``words(text)`` is empty are absent, exactly as each consumer's
    own ``explode`` behaved; consumers needing doc-level totals that must
    include token-less docs keep their own ``documents`` aggregate.
    """
    def build() -> DataFrame:
        d = load_spread(spark, sf_dir, "documents")
        return d.select(
            "doc_id",
            "lang",
            "source",
            F.explode(words(F.col("text"))).alias("word"),
        )

    return artifact(spark, sf_dir, "doc_tokens", build)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality stats: token counts, word-length, stopword ratio,
    uniqueness ratio, and a composite quality score.

    The score mirrors common pretraining-corpus filters (Gopher-style rules):
    penalize too-short docs, low uniqueness, and stopword-free word soup.

    Session-memoized ("text_quality" — the shared_dup_pairs pattern): the
    per-doc quality frame is the fan-in of the curation family
    (corpus_curate, corpus_dedup_funnel, CorpusPipeline) and each consumer
    re-deriving it re-scans the corpus; the artifact is one narrow row per
    doc, exactly what a production funnel materializes after scoring.
    """
    return artifact(
        spark, sf_dir, "text_quality", lambda: _text_quality_build(spark, sf_dir)
    )


def _text_quality_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    w = words(F.col("text"))
    n_words = F.size(w)
    n_uniq = F.size(F.array_distinct(w))
    n_stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    avg_len = F.aggregate(
        w, F.lit(0), lambda acc, x: acc + F.length(x)
    ) / n_words
    uniq_ratio = n_uniq / n_words
    stop_ratio = n_stop / n_words
    score = (
        F.when(n_words >= 20, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.least(uniq_ratio, F.lit(0.5)) * 0.6
        + F.least(stop_ratio, F.lit(0.2)) * 1.5
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_uniq.alias("n_uniq"),
        n_stop.alias("n_stop"),
        F.round(avg_len, 4).cast("decimal(10,4)").alias("avg_word_len"),
        F.round(uniq_ratio, 4).cast("decimal(7,4)").alias("uniq_ratio"),
        F.round(stop_ratio, 4).cast("decimal(7,4)").alias("stop_ratio"),
        F.round(score, 4).cast("decimal(7,4)").alias("quality"),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: argmax over per-language hit ratios.

    Greatest-struct argmax keeps it one pass; tie-break is (score desc, lang
    asc) encoded by negating the lang ordering via greatest on (score, lang
    reversed) — we instead compare structs explicitly for determinism.
    """
    d = load_spread(spark, sf_dir, "documents")
    w = words(F.col("text"))
    n_words = F.size(w)
    scored = d.select("doc_id", F.col("lang").alias("lang_actual"), w.alias("w"), n_words.alias("nw"))

    def _hits(prof):  # closure, NOT a default-arg lambda: transform/filter
        return lambda x: x.isin(*prof)  # inspect arity, 2 params would get the index

    score_cols = {
        lang: (F.size(F.filter(F.col("w"), _hits(prof))) / F.col("nw"))
        for lang, prof in LANG_PROFILES.items()
    }
    # argmax with deterministic tie-break: compare (score, lang) structs where
    # a *smaller* lang string wins ties -> use greatest on (score, negated rank)
    langs = sorted(LANG_PROFILES)  # ['de','en','fr']
    best = None
    for lang in langs:
        cand = F.struct(
            F.round(score_cols[lang], 6).alias("s"),
            F.lit(-langs.index(lang)).alias("r"),
            F.lit(lang).alias("lang"),
        )
        best = cand if best is None else F.when(
            (cand["s"] > best["s"]), cand
        ).otherwise(best)
    return scored.select(
        "doc_id",
        "lang_actual",
        best["lang"].alias("lang_pred"),
        best["s"].cast("decimal(9,6)").alias("lang_score"),
    )


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics per source: whitespace tokens, word-regex tokens, and
    a BPE-ish ceil(chars/4) estimate — the standard quick token budget."""
    d = load_spread(spark, sf_dir, "documents")
    ws_tokens = F.size(words(F.col("text")))
    re_tokens = F.size(
        F.filter(
            F.split(F.col("text"), r"[^A-Za-z0-9']+"), lambda x: F.length(x) > 0
        )
    )
    bpe_est = F.ceil(F.length("text") / 4)
    return (
        d.select("source", ws_tokens.alias("t_ws"), re_tokens.alias("t_re"), bpe_est.alias("t_bpe"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t_ws").alias("tokens_ws"),
            F.sum("t_re").alias("tokens_regex"),
            F.sum("t_bpe").alias("tokens_bpe_est"),
        )
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: content digest + min/max hash over 8-char
    grams of the normalized text (the rolling-hash dedup primitive)."""
    d = load_spread(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    k = 8
    # 8-char grams as zip_with over shifted char slices: referencing `norm`
    # inside a transform lambda would re-run the regexp per element (see
    # functions.word_shingles); slices evaluate the char split once per row.
    chars = F.split(norm, "")
    n = F.greatest(F.length(norm) - (k - 1), F.lit(0))
    parts = [F.slice(chars, F.lit(j + 1), n) for j in range(k)]
    gram = parts[k - 1]
    for j in range(k - 2, -1, -1):
        gram = F.zip_with(parts[j], gram, lambda a, b: F.concat(a, b))
    gh = F.transform(gram, lambda g: phash32(g, "gram"))
    grams = d.select("doc_id", norm.alias("norm"), gh.alias("gh"))
    return grams.select(
        "doc_id",
        phash32(F.col("norm"), "doc").alias("doc_hash"),
        F.array_min("gh").alias("min_gram_hash"),
        F.array_max("gh").alias("max_gram_hash"),
    )


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (the classic keyword extractor).

    One explode then two partial-aggregatable groupBys (doc-term tf, term
    df); N is a broadcast 1-row scalar.  Ranking orders by the ROUNDED
    tfidf so Spark and the oracle sort identical values (raw doubles could
    differ in the last ulp of ln()); term asc breaks ties deterministically.

    Scale: the tf aggregation shuffles (doc_id, term) pairs — partial
    map-side combine collapses repeated terms per doc per split, and the df
    side reduces to |vocab| rows before the broadcast join back.  Tokens
    ride the shared "doc_tokens" artifact (r09) — one corpus tokenization
    serves the whole bag-of-words family.
    """
    d = load_spread(spark, sf_dir, "documents")
    terms = doc_tokens(spark, sf_dir).select(
        "doc_id", F.col("word").alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).cast("decimal(12,4)"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity per document — the CCNet-style quality filter
    (Wenzek et al. 2020): score each doc by the average negative
    log-likelihood of its tokens under a language model estimated from the
    corpus itself; high-perplexity docs are the word-soup outliers a
    pretraining pipeline drops.

    Bit-reproducibility across engines: a per-doc SUM of doubles is
    order-dependent, so per-term log-counts are integer-quantized first
    (round(ln(cnt) * 1e6) as BIGINT — the same trick ml_logreg uses) and the
    per-doc reduction is exact integer arithmetic; floats reappear only in
    the final per-row division.  The corpus total enters through the
    decomposition ln(cnt/N) = ln(cnt) - ln(N), so
    nll = (n_tok*qN - sum(tf*q1)) / (n_tok*1e6) with qN = round(ln(N)*1e6).

    Scale: exactly TWO scans of documents — Catalyst cannot share the
    diverging tf / vocab subplans (a naive three-branch formulation re-scans
    for the 1-row token total as well; verified via .explain), so the
    aggregated vocab is PERSISTED as a session artifact (the dedup
    signature pattern) and the token total is a 1-row agg over it,
    broadcast back with a crossJoin — no unpartitioned window funneling
    the whole vocabulary through one task (r06 verdict #5: at web scale a
    10^8-term single partition is minutes of serial time).  The scoring
    join shuffles |distinct (doc,term)| rows, with AQE free to broadcast
    the vocab side when it is small.
    """
    terms = doc_tokens(spark, sf_dir).select(
        "doc_id", F.col("word").alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))

    counts = artifact(
        spark,
        sf_dir,
        "unigram_vocab",
        lambda: terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")),
    )
    ntok = counts.agg(F.sum("cnt").alias("n_tokens"))
    vocab = counts.crossJoin(F.broadcast(ntok))
    q1 = F.round(F.log(F.col("cnt").cast("double")) * 1e6).cast("long")
    qn = F.round(F.log(F.col("n_tokens").cast("double")) * 1e6).cast("long")
    per_doc = (
        tf.join(vocab, "term")
        .select("doc_id", "tf", q1.alias("q1"), qn.alias("qn"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("q1")).alias("sum_q1"),
            F.sum("tf").alias("n_tok"),
            F.max("qn").alias("qn"),
        )
    )
    nll = (
        F.col("n_tok") * F.col("qn") - F.col("sum_q1")
    ).cast("double") / (F.col("n_tok") * 1e6)
    return per_doc.select(
        "doc_id",
        "n_tok",
        F.round(nll, 4).cast("decimal(10,4)").alias("nll"),
        F.round(F.exp(nll), 2).cast("decimal(14,2)").alias("ppl"),
    )


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list construction: term -> sorted doc ids, for terms appearing
    in >= 5 documents.  Lists are emitted as comma-joined strings so the
    value-hash compare is order-exact.

    Scale: collect_set per term is the one non-partial aggregate here; the
    df >= 5 HAVING prunes the long tail after a partial-agg'd distinct-pair
    reduction, and posting lists for truly hot terms would be chunked by
    (term, bucket) at 100 TB — the query keeps the textbook single-list form
    the fixture sizes allow.
    """
    d = load_spread(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id", F.explode(F.array_distinct(words(F.col("text")))).alias("term")
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(",", F.sort_array(F.collect_set("doc_id"))).alias("postings"),
        )
        .filter(F.col("df") >= 5)
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: fraction of bigram
    instances covered by the single most-frequent bigram (``top2_frac``)
    and fraction of trigram instances that are repeats (``rep3_frac``).

    Map-only: the per-doc gram counting stays inside one projection (no
    explode/groupBy shuffle per n-gram), so at 100 TB this runs at scan
    speed over input splits.  Grams are materialized in a prior select so
    the HOF lambdas reference a bound column, not a re-evaluated expression
    (see functions.word_shingles note).
    """
    d = load_spread(spark, sf_dir, "documents")
    w = words(F.col("text"))
    g = d.select(
        "doc_id",
        word_grams(w, 2).alias("g2"),
        word_grams(w, 3).alias("g3"),
    )
    n2, n3 = F.size("g2"), F.size("g3")
    top2 = F.array_max(
        F.transform(
            F.array_distinct("g2"),
            lambda x: F.size(F.filter("g2", lambda y: y == x)),
        )
    )
    rep3 = n3 - F.size(F.array_distinct("g3"))
    return g.select(
        "doc_id",
        n2.alias("n_bigrams"),
        F.when(n2 > 0, F.round(top2 / n2, 4))
        .cast("decimal(7,4)")
        .alias("top2_frac"),
        F.when(n3 > 0, F.round(rep3 / n3, 4))
        .cast("decimal(7,4)")
        .alias("rep3_frac"),
    )


EVAL_SPLIT_MOD = 10  # doc_id-hash % 10 == 0  ->  ~10% held-out eval split


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: flag training documents sharing any
    4-gram with the held-out eval split (hash-selected ~2% of docs).

    The eval gram set is small by construction, so it broadcasts — the
    check is a map-side semi join over exploded training grams followed by
    one partial-agg'd per-doc count.  This is the standard benchmark-
    contamination sweep (n-gram overlap against eval suites) at corpus
    scale: eval grams ship to every executor, training corpus streams by.

    Session-memoized ("decontam_hits"): the hit list is tiny (contaminated
    docs only) and read by corpus_curate, corpus_dedup_funnel, and the
    CorpusPipeline facade — one gram sweep per session serves all three.
    """
    return artifact(
        spark, sf_dir, "decontam_hits",
        lambda: _text_decontaminate_build(spark, sf_dir),
    )


def _text_decontaminate_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        word_shingles(words(F.col("text")), 4).alias("g"),
        (phash32(F.col("doc_id"), "evalsplit") % EVAL_SPLIT_MOD == 0).alias("is_eval"),
    )
    ev = (
        base.filter(F.col("is_eval"))
        .select(F.explode("g").alias("gram"))
        .distinct()
    )
    tr = base.filter(~F.col("is_eval")).select("doc_id", F.explode("g").alias("gram"))
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


QUALITY_MIN = 0.65  # corpus_curate keep threshold on the composite score


def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-corpus deliverable: documents that (a) pass the
    composite quality filter, (b) survive near-dup canonicalization
    (SimHash connected components, keep min doc_id), (c) share no 4-gram
    with the held-out eval split, and (d) are not eval docs themselves.

    This is the standard curation funnel (quality -> dedup -> decontam ->
    split) composed from the suite's own operators.  Each removal list is
    tiny relative to the corpus, so every exclusion is a left-anti join
    that AQE broadcasts — the full corpus streams through exactly once.
    """
    from .dedup import dedup_components

    d = load_spread(spark, sf_dir, "documents")
    q = text_quality(spark, sf_dir).select("doc_id", "n_words", "quality")
    dup_removals = (
        dedup_components(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("component_id"))
        .select("doc_id")
    )
    contaminated = text_decontaminate(spark, sf_dir).select("doc_id")
    is_eval = phash32(F.col("doc_id"), "evalsplit") % EVAL_SPLIT_MOD == 0
    return (
        d.select("doc_id", "lang", "source")
        .filter(~is_eval)
        .join(q, "doc_id")
        .filter(F.col("quality") >= QUALITY_MIN)
        .join(dup_removals, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_words", "quality")
    )


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization: lowercase, strip non-alphanumerics to
    spaces, collapse whitespace runs, trim — the cleaning pass that
    precedes tokenization/hashing in every corpus pipeline (and the reason
    two near-identical docs hash identically afterwards).

    Emits the normalized text's md5 + lengths so the oracle proves
    byte-identical normalization without shipping the corpus.  Pure
    regexp/codegen, map-only.
    """
    d = load_spread(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length("text").alias("raw_len"),
        F.length(norm).alias("norm_len"),
        F.md5(norm).alias("norm_md5"),
    )


# PII-scrub patterns shared by the Spark op and the DuckDB oracle.  Kept to
# constructs with identical semantics in Java regex and RE2 (char classes,
# bounded repeats, greedy quantifiers) so the redacted output hashes match.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
LONGNUM_RE = "\\d{6,}"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and redact e-mail addresses and long digit runs.

    The fixture corpus is synthetic word soup, so each doc is first salted
    with a deterministic e-mail + numeric id derived from ``doc_id`` (both
    engines build the identical dirty text); the scrub then runs the real
    redaction pipeline: count matches, replace e-mails, then replace id-like
    digit runs on the already-e-mail-redacted text.  Output carries
    ``md5(redacted)`` rather than the full text, so the oracle hash-match
    proves byte-identical redaction without shipping the corpus.

    Scale: pure per-row regexp work inside codegen — map-only, no shuffle;
    at 100 TB this is scan-bound and embarrassingly parallel.
    """
    d = load_spread(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example ref "),
        (F.lit(1_000_000) + F.col("doc_id") * 7919).cast("string"),
    )
    no_email = F.regexp_replace(dirty, EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(no_email, LONGNUM_RE, "<ID>")
    return d.select(
        "doc_id",
        F.regexp_count(dirty, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(no_email, F.lit(LONGNUM_RE)).alias("n_ids"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).alias("redacted_len"),
    )


# RAG-style chunking parameters: fixed token windows with overlap.  Stride =
# CHUNK_TOKENS - CHUNK_OVERLAP; a chunk is emitted iff it contributes at least
# one token beyond the previous chunk's coverage (start == 1 OR start +
# overlap <= n_words), so short docs yield exactly one chunk and no trailing
# chunk is a strict subset of its predecessor.
CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8
CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def chunk_df(docs: DataFrame) -> DataFrame:
    """Chunk any (doc_id, text, ...) DataFrame — the reusable core of
    :func:`text_chunk`, also wired as ``CorpusPipeline.chunk()`` so the
    curated corpus flows straight into embedding prep without a re-read."""
    tok = docs.select("doc_id", words(F.col("text")).alias("w"))
    n = F.size("w")
    starts = F.filter(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(CHUNK_STRIDE)),
        lambda s: (s == 1) | (s + CHUNK_OVERLAP <= n),
    )
    chunked = tok.select(
        "doc_id", "w", F.posexplode(starts).alias("chunk_idx", "start_word")
    )
    cw = F.slice("w", F.col("start_word"), F.lit(CHUNK_TOKENS))
    return chunked.select(
        "doc_id",
        "chunk_idx",
        "start_word",
        F.size(cw).alias("n_tokens"),
        F.md5(F.array_join(cw, " ")).alias("chunk_md5"),
    )


def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding-prep chunking: split each document into fixed-size
    token windows (CHUNK_TOKENS words, CHUNK_OVERLAP overlap) and emit one
    row per chunk with its word offset, token count, and content md5.

    The md5-per-chunk makes the op exactly oracle-checkable without
    shipping chunk text, and doubles as the chunk-level dedup key a
    retrieval pipeline needs downstream.

    Scale: map-side only — tokenize once per doc (materialized column, so
    the HOF lambda re-evaluates a cheap column ref, not the split), emit
    ~n_words/stride rows per doc via posexplode, no shuffle.  At 100 TB
    this is scan-bound; chunk rows land partitioned exactly like their
    source splits, ready for a downstream embedding pass.
    """
    return chunk_df(load_spread(spark, sf_dir, "documents"))


_QUALITY_EXPRS = """
  len(w) AS n_words,
  len(list_distinct(w)) AS n_uniq,
  len(list_filter(w, x -> list_contains({stops}, x))) AS n_stop
""".format(stops="[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]")

BPE_ROUNDS = 4


def _bpe_state(spark: SparkSession, sf_dir: str):
    """Shared BPE merge-learning pipeline: returns ``(state, outs)`` where
    ``state`` is the distinct-word frequency table ``(w, cnt, s)`` after
    ``BPE_ROUNDS`` merges (``s`` = space-separated symbol string) and
    ``outs`` is one 1-row DataFrame per learned merge.  ``states`` holds
    the table after EVERY round (index 0 = character-split baseline) for
    the vocabulary-size compression sweep.

    Classic formulation: train on the distinct-word frequency table (tiny
    relative to the corpus — one partial-agg'd shuffle builds it and every
    later round works on |vocab| rows).  Each round (a) explodes adjacent
    symbol pairs weighted by word count, (b) picks the most frequent pair
    with a deterministic (count desc, pair asc) tie-break as a broadcast
    1-row aggregate, and (c) applies the merge with a LITERAL string
    replace — both engines scan left-to-right non-overlapping and the
    space-padded encoding makes token boundaries unambiguous, so the
    rewrite is bit-identical.  No driver loop: the rounds compose lazily
    into one plan.
    """
    wf = (
        doc_tokens(spark, sf_dir)
        .select(F.col("word").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.length("w") > 0)
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    state = wf.select(
        "w",
        "cnt",
        F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" ")).alias("s"),
    )

    outs = []
    states = [state]
    for r in range(1, BPE_ROUNDS + 1):
        toks = F.split(F.trim(F.col("s")), " ")
        prs = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("a"),
                    F.element_at(toks, i + 1).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        pc = (
            state.select("cnt", F.explode(prs).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
        )
        best = pc.orderBy(F.col("n").desc(), "a", "b").limit(1)
        outs.append(
            best.select(
                F.lit(r).alias("rank"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.col("n").alias("pair_count"),
            )
        )
        b = F.broadcast(
            best.select(F.col("a").alias("_ba"), F.col("b").alias("_bb"))
        )
        # EXACT left-to-right greedy merge via delimiter doubling: a plain
        # literal replace of ' a b ' consumes the shared space, skipping
        # every other occurrence in a back-to-back run (and mis-merging
        # self-pair runs like ' a a a a a ').  Doubling every space first
        # makes each occurrence carry its OWN delimiters (' a  b ' takes
        # one of the two spaces on each side), so one non-overlapping
        # left-to-right scan — the literal-replace semantics both engines
        # share — IS reference greedy merge application; collapsing the
        # doubles (runs are never longer than 2) restores the encoding.
        pat2 = F.concat(
            F.lit(" "), F.col("_ba"), F.lit("  "), F.col("_bb"), F.lit(" ")
        )
        rep = F.concat(F.lit(" "), F.col("_ba"), F.col("_bb"), F.lit(" "))
        merged = F.replace(
            F.replace(
                F.replace(F.col("s"), F.lit(" "), F.lit("  ")), pat2, rep
            ),
            F.lit("  "),
            F.lit(" "),
        )
        # LEFT join against the (0-or-1 row) best pair: a round that learns
        # nothing (every word already a single symbol) must leave the state
        # UNCHANGED — a crossJoin would annihilate it and every later round
        state = state.join(b, F.lit(True), "left").select(
            "w",
            "cnt",
            F.when(F.col("_ba").isNull(), F.col("s")).otherwise(merged).alias("s"),
        )
        states.append(state)
    return state, outs, states


def _bpe_artifacts(spark: SparkSession, sf_dir: str):
    """Session-memoized (final merge state, learned-merges table) from ONE
    ``_bpe_state`` build — ``text_bpe_merges`` and ``text_bpe_encode`` each
    consumed their half of the SAME learning pipeline and re-ran it per
    invocation.  One memo site builds both halves together (a tokenizer
    train job persists exactly these two tables); each stays
    standalone-correct on a cold cache."""
    # one lazy _bpe_state plan, built only when a half misses
    learned = functools.cache(lambda: _bpe_state(spark, sf_dir))
    st = artifact(spark, sf_dir, "bpe_state", lambda: learned()[0])
    mg = artifact(
        spark,
        sf_dir,
        "bpe_merges",
        lambda: functools.reduce(DataFrame.unionByName, learned()[1]),
    )
    return st, mg


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, first ``BPE_ROUNDS`` merges — the real
    byte-pair-encoding learning step (Sennrich et al. 2016) run on-cluster
    and EXACTLY oracled (all counts are integers and every operation in
    :func:`_bpe_state` is deterministic, so the unrolled-CTE DuckDB replica
    matches hash-exactly).  Shares the learning pass with
    ``text_bpe_encode`` via :func:`_bpe_artifacts`."""
    _, mg = _bpe_artifacts(spark, sf_dir)
    return mg


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to tokenize the corpus: per document,
    whitespace word count vs post-merge BPE token count and the integer
    tokens-per-word ratio — the fertility statistic a tokenizer-training
    run reports before committing a vocab.

    Scale shape: encoding is a BROADCAST join of the corpus token stream
    against the learned vocab table (distinct words — bounded by the
    language, not the corpus), then one partial-agg'd groupBy(doc_id);
    the merge learning itself is the |vocab|-row pipeline from
    :func:`_bpe_state`, shared with ``text_bpe_merges`` via
    :func:`_bpe_artifacts`.  The corpus is scanned twice total (once to
    build word frequencies, once to encode) — the same two-pass shape as
    ``text_perplexity``.
    """
    state, _ = _bpe_artifacts(spark, sf_dir)
    vocab = state.select(
        "w", F.size(F.split(F.trim(F.col("s")), " ")).cast("long").alias("n_sym")
    )
    tok = doc_tokens(spark, sf_dir).select(
        "doc_id", F.col("word").alias("w")
    ).filter(F.length("w") > 0)
    return (
        tok.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
        .withColumn(
            "tokens_per_word_q",
            F.expr("(n_bpe_tokens * 1000000) div n_words"),
        )
    )


def _bpe_cte_chain() -> str:
    """Unrolled-CTE DuckDB replica of the BPE merge learner's state pipeline
    (``_bpe_state``): ``wf0`` … ``wf{BPE_ROUNDS}`` carry ``(w, cnt, s)``,
    ``best{r}`` is round r's learned merge."""
    head = f"""
WITH wf0 AS (
  SELECT w, cnt,
         ' ' || array_to_string(list_transform(generate_series(1, len(w)),
                                i -> substr(w, i, 1)), ' ') || ' ' AS s
  FROM (SELECT w, count(*)::BIGINT AS cnt
        FROM (SELECT unnest({_W}) AS w FROM documents)
        GROUP BY w)
  WHERE len(w) > 0)"""
    rounds = []
    for r in range(1, BPE_ROUNDS + 1):
        rounds.append(f""",
tk{r} AS (SELECT cnt, string_split(trim(s), ' ') AS toks FROM wf{r - 1}),
pc{r} AS (
  SELECT a, b, sum(cnt)::BIGINT AS n
  FROM (SELECT cnt,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i])) AS a,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i + 1])) AS b
        FROM tk{r} WHERE len(toks) >= 2)
  GROUP BY a, b),
best{r} AS (SELECT a, b, n FROM pc{r} ORDER BY n DESC, a, b LIMIT 1),
wf{r} AS (
  -- delimiter-doubled single replace: exact left-to-right greedy merge
  -- (same construction as the Spark side — see _bpe_state); LEFT join
  -- so a round with no learnable pair leaves the state unchanged
  SELECT w, cnt,
         CASE WHEN best.a IS NULL THEN s
              ELSE replace(replace(replace(s, ' ', '  '),
                                   ' ' || best.a || '  ' || best.b || ' ',
                                   ' ' || best.a || best.b || ' '),
                           '  ', ' ') END AS s
  FROM wf{r - 1} LEFT JOIN best{r} best ON TRUE)""")
    return head + "".join(rounds)


def _bpe_oracle() -> str:
    selects = [
        f"SELECT {r} AS rank, a AS left_sym, b AS right_sym, "
        f"n AS pair_count FROM best{r}"
        for r in range(1, BPE_ROUNDS + 1)
    ]
    return _bpe_cte_chain() + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_encode_oracle() -> str:
    return (
        _bpe_cte_chain()
        + f""",
vocab AS (SELECT w, len(string_split(trim(s), ' '))::BIGINT AS n_sym
          FROM wf{BPE_ROUNDS}),
tok AS (SELECT doc_id, w
        FROM (SELECT doc_id, unnest({_W}) AS w FROM documents)
        WHERE len(w) > 0)
SELECT doc_id, count(*)::BIGINT AS n_words, sum(n_sym)::BIGINT AS n_bpe_tokens,
       (sum(n_sym)::BIGINT * 1000000) // count(*) AS tokens_per_word_q
FROM tok JOIN vocab USING (w)
GROUP BY doc_id"""
    )


ORACLE = {
    "text_quality": f"""
        WITH d AS (SELECT doc_id, {_W} AS w FROM documents),
        s AS (SELECT doc_id, {_QUALITY_EXPRS},
                     list_reduce(list_prepend(0, list_transform(w, x -> len(x))), (a,b) -> a+b) AS sum_len
              FROM d)
        SELECT doc_id, n_words, n_uniq, n_stop,
               CAST(round(sum_len::DOUBLE / n_words, 4) AS DECIMAL(10,4)) AS avg_word_len,
               CAST(round(n_uniq::DOUBLE / n_words, 4) AS DECIMAL(7,4)) AS uniq_ratio,
               CAST(round(n_stop::DOUBLE / n_words, 4) AS DECIMAL(7,4)) AS stop_ratio,
               CAST(round(
                 (CASE WHEN n_words >= 20 THEN 0.4 ELSE 0.0 END)
                 + least(n_uniq::DOUBLE / n_words, 0.5) * 0.6
                 + least(n_stop::DOUBLE / n_words, 0.2) * 1.5, 4) AS DECIMAL(7,4)) AS quality
        FROM s
    """,
    "text_normalize": """
        WITH n AS (
          SELECT doc_id, text,
                 trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                   ' +', ' ', 'g')) AS norm
          FROM documents)
        SELECT doc_id,
               length(text) AS raw_len,
               length(norm) AS norm_len,
               md5(norm) AS norm_md5
        FROM n
    """,
    "text_pii_redact": f"""
        WITH dirty AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id::VARCHAR || '@mail.example ref '
                      || (1000000 + doc_id * 7919)::VARCHAR AS t
          FROM documents),
        r1 AS (
          SELECT doc_id,
                 len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails,
                 regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g') AS t1
          FROM dirty)
        SELECT doc_id, n_emails,
               len(regexp_extract_all(t1, '{LONGNUM_RE}')) AS n_ids,
               md5(regexp_replace(t1, '{LONGNUM_RE}', '<ID>', 'g')) AS redacted_md5,
               length(regexp_replace(t1, '{LONGNUM_RE}', '<ID>', 'g')) AS redacted_len
        FROM r1
    """,
    "text_chunk": f"""
        WITH d AS (SELECT doc_id, {_W} AS w FROM documents),
        s AS (SELECT doc_id, w, len(w) AS n FROM d),
        st AS (
          SELECT doc_id, w, n,
                 unnest(list_filter(
                   generate_series(1, greatest(n, 1), {CHUNK_STRIDE}),
                   x -> x = 1 OR x + {CHUNK_OVERLAP} <= n)) AS start_word
          FROM s)
        SELECT doc_id,
               (start_word - 1) // {CHUNK_STRIDE} AS chunk_idx,
               start_word,
               len(list_slice(w, start_word, start_word + {CHUNK_TOKENS - 1}))
                 AS n_tokens,
               md5(array_to_string(
                 list_slice(w, start_word, start_word + {CHUNK_TOKENS - 1}),
                 ' ')) AS chunk_md5
        FROM st
    """,
    "text_langid": None,  # filled below (needs profile expansion)
    "text_token_count": f"""
        WITH d AS (
          SELECT source,
                 len({_W}) AS t_ws,
                 len(list_filter(str_split_regex(text, '[^A-Za-z0-9'']+'), x -> len(x) > 0)) AS t_re,
                 CAST(ceil(len(text) / 4.0) AS BIGINT) AS t_bpe
          FROM documents)
        SELECT source, count(*) AS n_docs,
               sum(t_ws) AS tokens_ws, sum(t_re) AS tokens_regex,
               sum(t_bpe) AS tokens_bpe_est
        FROM d GROUP BY source
    """,
    "text_fingerprint": f"""
        WITH d AS (
          SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
          FROM documents),
        g AS (
          SELECT doc_id, norm,
                 list_transform(generate_series(1, len(norm) - 7),
                                i -> {phash32_sql("substr(norm, i, 8)", "gram")}) AS gh
          FROM d)
        SELECT doc_id,
               {phash32_sql("norm", "doc")} AS doc_hash,
               list_min(gh) AS min_gram_hash,
               list_max(gh) AS max_gram_hash
        FROM g
    """,
}

_SCORES_SQL = {
    lang: (
        "round(len(list_filter(w, x -> list_contains(["
        + ", ".join(f"'{t}'" for t in prof)
        + "], x)))::DOUBLE / len(w), 6)"
    )
    for lang, prof in LANG_PROFILES.items()
}
_LANGS = sorted(LANG_PROFILES)

# Mirrors the Spark strictly-greater fold: first language (sorted order) wins
# ties, so lang_pred = the earliest l with s_l = max and no earlier lang at max.
ORACLE["text_langid"] = f"""
    WITH d AS (SELECT doc_id, lang AS lang_actual, {_W} AS w FROM documents),
    scored AS (
      SELECT doc_id, lang_actual,
             {", ".join(f"{_SCORES_SQL[l]} AS s_{l}" for l in _LANGS)}
      FROM d)
    SELECT doc_id, lang_actual,
           CASE
             {"".join("WHEN " + " AND ".join([f"s_{l} = m"] + [f"s_{p} < m" for p in _LANGS[:i]]) + f" THEN '{l}' " for i, l in enumerate(_LANGS))}
           END AS lang_pred,
           CAST(m AS DECIMAL(9,6)) AS lang_score
    FROM (SELECT *, greatest({", ".join(f"s_{l}" for l in _LANGS)}) AS m FROM scored) t
"""

ORACLE["text_tfidf_topk"] = f"""
    WITH terms AS (
      SELECT doc_id, unnest({_W}) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
    df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 4) AS DECIMAL(12,4)) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
    SELECT doc_id, term, tf, df, tfidf, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rk
      FROM scored) t
    WHERE rk <= 3
"""

ORACLE["text_inverted_index"] = f"""
    WITH pairs AS (
      SELECT doc_id, unnest(list_distinct({_W})) AS term FROM documents)
    SELECT term, count(*) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM pairs GROUP BY term HAVING count(*) >= 5
"""

ORACLE["text_repetition"] = f"""
    WITH d AS (SELECT doc_id, {_W} AS w FROM documents),
    g AS (SELECT doc_id,
                 {word_grams_sql("w", 2)} AS g2,
                 {word_grams_sql("w", 3)} AS g3
          FROM d)
    SELECT doc_id,
           len(g2) AS n_bigrams,
           CASE WHEN len(g2) > 0 THEN CAST(round(
             list_max(list_transform(list_distinct(g2),
                                     x -> len(list_filter(g2, y -> y = x))))::DOUBLE
             / len(g2), 4) AS DECIMAL(7,4)) END AS top2_frac,
           CASE WHEN len(g3) > 0 THEN CAST(round(
             (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3), 4)
             AS DECIMAL(7,4)) END AS rep3_frac
    FROM g
"""

ORACLE["text_decontaminate"] = f"""
    WITH base AS (
      SELECT doc_id, {word_shingles_sql("w", 4)} AS g,
             ({phash32_sql("doc_id::VARCHAR", "evalsplit")} % {EVAL_SPLIT_MOD} = 0) AS is_eval
      FROM (SELECT doc_id, {_W} AS w FROM documents)),
    ev AS (SELECT DISTINCT unnest(g) AS gram FROM base WHERE is_eval),
    tr AS (SELECT doc_id, unnest(g) AS gram FROM base WHERE NOT is_eval)
    SELECT tr.doc_id, count(*) AS n_hit_grams
    FROM tr JOIN ev ON tr.gram = ev.gram
    GROUP BY tr.doc_id
"""

# corpus_curate oracle: composed from the suite's own oracle fragments —
# quality CTE + recursive-CTE components + decontamination sweep.
def _corpus_curate_oracle() -> str:
    from .dedup import ORACLE as DEDUP_ORACLE

    return f"""
    WITH q AS ({ORACLE["text_quality"]}),
    contam AS ({ORACLE["text_decontaminate"]}),
    dup_removals AS (
      SELECT doc_id FROM ({DEDUP_ORACLE["dedup_components"]}) cc
      WHERE doc_id <> component_id)
    SELECT d.doc_id, d.lang, d.source, q.n_words, q.quality
    FROM documents d
    JOIN q ON d.doc_id = q.doc_id
    WHERE ({phash32_sql("d.doc_id::VARCHAR", "evalsplit")} % {EVAL_SPLIT_MOD}) <> 0
      AND q.quality >= {QUALITY_MIN}
      AND d.doc_id NOT IN (SELECT doc_id FROM dup_removals)
      AND d.doc_id NOT IN (SELECT doc_id FROM contam)
    """


ORACLE["corpus_curate"] = _corpus_curate_oracle()

ORACLE["text_bpe_merges"] = _bpe_oracle()
ORACLE["text_bpe_encode"] = _bpe_encode_oracle()

DOMSIG_TOPK = 5
DOMSIG_MIN_TF = 20


def text_domain_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source domain signature: the ``DOMSIG_TOPK`` most DISTINCTIVE
    tokens of each source by integer-scaled lift
    ``P(w|source) / P(w)  =  tf_sw * T / (tf_w * tok_s)`` — the data-mixing
    diagnostic that tells you what each corpus source actually contributes
    before you weight it (complement of per-doc ``text_tfidf_topk``).

    All-integer (lift scaled 1e6, truncating div) so it's exactly oracled.
    Scale shape: one token-stream partial agg to (source, w) counts — the
    only corpus-scale shuffle — then vocab-scale joins: by-word totals
    shuffle |vocab| rows, per-source totals and the corpus total are
    broadcast-scale, the top-k window partitions by source over
    |sources| x topk candidates.  Headroom: ``tf_sw * T * 1e6`` fits int64
    to ~10^6 x 10^6-token corpora; past that swap the lift to DECIMAL(38,0)
    (both engines exact).
    """
    tok = doc_tokens(spark, sf_dir).select(
        "source", F.col("word").alias("w")
    ).filter(F.length("w") > 0)
    sw = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("tf_sw")
    )
    wtot = sw.groupBy("w").agg(F.sum("tf_sw").alias("tf_w"))
    stot = sw.groupBy("source").agg(F.sum("tf_sw").alias("tok_s"))
    tot = sw.agg(F.sum("tf_sw").alias("T"))
    scored = (
        sw.join(wtot, "w")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("tf_sw") >= DOMSIG_MIN_TF)
        .select(
            "source",
            "w",
            "tf_sw",
            "tf_w",
            F.expr("(tf_sw * T * 1000000) div (tf_w * tok_s)").alias("lift_q"),
        )
    )
    win = Window.partitionBy("source").orderBy(
        F.col("lift_q").desc(), F.col("tf_sw").desc(), F.col("w")
    )
    return scored.withColumn("rnk", F.row_number().over(win)).filter(
        F.col("rnk") <= DOMSIG_TOPK
    )


ORACLE["text_domain_signature"] = f"""
    WITH tk AS (
      SELECT source, w
      FROM (SELECT source, unnest({_W}) AS w FROM documents)
      WHERE len(w) > 0),
    sw AS (SELECT source, w, count(*)::BIGINT AS tf_sw FROM tk GROUP BY source, w),
    wt AS (SELECT w, sum(tf_sw)::BIGINT AS tf_w FROM sw GROUP BY w),
    st AS (SELECT source, sum(tf_sw)::BIGINT AS tok_s FROM sw GROUP BY source),
    t AS (SELECT sum(tf_sw)::BIGINT AS T FROM sw),
    sc AS (
      SELECT sw.source, sw.w, sw.tf_sw, wt.tf_w,
             (sw.tf_sw * t.T * 1000000) // (wt.tf_w * st.tok_s) AS lift_q
      FROM sw JOIN wt USING (w) JOIN st USING (source) CROSS JOIN t
      WHERE sw.tf_sw >= {DOMSIG_MIN_TF})
    SELECT source, w, tf_sw, tf_w, lift_q, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY lift_q DESC, tf_sw DESC, w) AS rnk FROM sc)
    WHERE rnk <= {DOMSIG_TOPK}
"""

QUERIES = {
    "text_quality": text_quality,
    "text_bpe_merges": text_bpe_merges,
    "text_bpe_encode": text_bpe_encode,
    "text_domain_signature": text_domain_signature,
    "text_pii_redact": text_pii_redact,
    "text_normalize": text_normalize,
    "text_chunk": text_chunk,
    "text_repetition": text_repetition,
    "text_decontaminate": text_decontaminate,
    "corpus_curate": corpus_curate,
    "text_langid": text_langid,
    "text_token_count": text_token_count,
    "text_fingerprint": text_fingerprint,
    "text_tfidf_topk": text_tfidf_topk,
    "text_inverted_index": text_inverted_index,
    "text_perplexity": text_perplexity,
}

ORACLE["text_perplexity"] = f"""
WITH terms AS (
  SELECT doc_id, unnest({_W}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
vocab AS (
  SELECT term, cnt, sum(cnt) OVER () AS n_tokens
  FROM (SELECT term, count(*) AS cnt FROM terms GROUP BY term) v),
scored AS (
  SELECT doc_id, tf,
         CAST(round(ln(cnt::DOUBLE) * 1000000) AS BIGINT) AS q1,
         CAST(round(ln(n_tokens::DOUBLE) * 1000000) AS BIGINT) AS qn
  FROM tf JOIN vocab USING (term)),
per_doc AS (
  SELECT doc_id, sum(tf * q1) AS sum_q1, sum(tf) AS n_tok, max(qn) AS qn
  FROM scored GROUP BY doc_id)
SELECT doc_id, n_tok,
       CAST(round((n_tok * qn - sum_q1)::DOUBLE / (n_tok * 1000000.0), 4) AS DECIMAL(10,4)) AS nll,
       CAST(round(exp((n_tok * qn - sum_q1)::DOUBLE / (n_tok * 1000000.0)), 2) AS DECIMAL(14,2)) AS ppl
FROM per_doc
"""


# URL-canonicalization dedup.  The fixture has no URL column, so each doc's
# URL is SYNTHESIZED deterministically (4 surface variants per logical page:
# tracking params, scheme/host case, trailing slash, fragment) — the
# canonicalizer under test is the real thing, the variants are the standard
# mess a web crawl produces for one page.
URLDEDUP_HOSTS = 7

_URL_SYNTH_SPARK = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN concat('https://www.cdn', CAST((doc_id div 4) % 7 AS STRING),
                     '.example.com/docs/', CAST(doc_id div 4 AS STRING),
                     '?utm_source=feed&id=', CAST(doc_id div 4 AS STRING))
  WHEN 1 THEN concat('http://cdn', CAST((doc_id div 4) % 7 AS STRING),
                     '.example.com/docs/', CAST(doc_id div 4 AS STRING),
                     '/?id=', CAST(doc_id div 4 AS STRING))
  WHEN 2 THEN concat('HTTPS://CDN', CAST((doc_id div 4) % 7 AS STRING),
                     '.EXAMPLE.COM/docs/', CAST(doc_id div 4 AS STRING),
                     '?id=', CAST(doc_id div 4 AS STRING), '&utm_campaign=x')
  ELSE concat('https://cdn', CAST((doc_id div 4) % 7 AS STRING),
              '.example.com/docs/', CAST(doc_id div 4 AS STRING),
              '?id=', CAST(doc_id div 4 AS STRING), '#frag')
END
"""

_URL_SYNTH_DUCK = """
CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN 'https://www.cdn' || ((doc_id // 4) % 7) ||
              '.example.com/docs/' || (doc_id // 4) ||
              '?utm_source=feed&id=' || (doc_id // 4)
  WHEN 1 THEN 'http://cdn' || ((doc_id // 4) % 7) ||
              '.example.com/docs/' || (doc_id // 4) ||
              '/?id=' || (doc_id // 4)
  WHEN 2 THEN 'HTTPS://CDN' || ((doc_id // 4) % 7) ||
              '.EXAMPLE.COM/docs/' || (doc_id // 4) ||
              '?id=' || (doc_id // 4) || '&utm_campaign=x'
  ELSE 'https://cdn' || ((doc_id // 4) % 7) ||
       '.example.com/docs/' || (doc_id // 4) ||
       '?id=' || (doc_id // 4) || '#frag'
END
"""


def text_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: collapse crawl-surface URL variants of the
    same page to one canonical form and keep the smallest doc_id per page —
    the cheapest dedup tier in a web-scale pipeline (it runs BEFORE any
    content hashing and typically removes the bulk of refetches).

    Canonical form: strip the #fragment, strip the scheme, lowercase the
    host, drop a leading ``www.``, strip trailing slashes from the path,
    drop ``utm_*`` tracking params, and re-emit the surviving query params
    sorted.  All array/string built-ins — map-only until one hash groupBy on
    the canonical key, the exact-dedup shuffle shape (dedup.py:55), so the
    plan scales like ``dedup_exact_groups``.
    """
    d = load_spread(spark, sf_dir, "documents")
    u = d.select("doc_id", F.expr(_URL_SYNTH_SPARK).alias("url"))
    c = u.select(
        "doc_id",
        "url",
        F.expr(r"""
        regexp_replace(split_part(regexp_replace(split_part(url, '#', 1),
                       '(?i)^https?://', ''), '/', 1), '^www\\.', '')
        """).alias("hostraw"),
        F.expr(r"""
        substring(regexp_replace(split_part(url, '#', 1), '(?i)^https?://', ''),
                  length(split_part(regexp_replace(split_part(url, '#', 1),
                         '(?i)^https?://', ''), '/', 1)) + 1)
        """).alias("rest"),
    )
    c = c.select(
        "doc_id",
        "url",
        F.lower("hostraw").alias("host"),
        F.expr(r"regexp_replace(split_part(rest, '?', 1), '/+$', '')").alias("path"),
        F.expr(r"""
        array_join(array_sort(filter(split(split_part(rest, '?', 2), '&'),
                   p -> p <> '' AND NOT startswith(p, 'utm_'))), '&')
        """).alias("qs"),
    )
    canon = F.concat(
        F.col("host"),
        F.col("path"),
        F.when(F.col("qs") != "", F.concat(F.lit("?"), F.col("qs"))).otherwise(
            F.lit("")
        ),
    )
    return (
        c.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


QUERIES["text_url_dedup"] = text_url_dedup
ORACLE["text_url_dedup"] = f"""
    WITH u AS (SELECT doc_id, {_URL_SYNTH_DUCK} AS url FROM documents),
    s1 AS (
      SELECT doc_id, url,
             regexp_replace(split_part(url, '#', 1),
                            '(?i)^https?://', '') AS noscheme
      FROM u),
    s2 AS (
      SELECT doc_id, url,
             regexp_replace(split_part(noscheme, '/', 1),
                            '^www\\.', '') AS hostraw,
             substring(noscheme, length(split_part(noscheme, '/', 1)) + 1)
               AS rest
      FROM s1),
    s3 AS (
      SELECT doc_id,
             lower(hostraw) AS host,
             regexp_replace(split_part(rest, '?', 1), '/+$', '') AS path,
             array_to_string(list_sort(list_filter(
               string_split(split_part(rest, '?', 2), '&'),
               p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS qs
      FROM s2)
    SELECT host || path ||
           CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical_url,
           count(*)::BIGINT AS n_variants,
           min(doc_id) AS keep_doc_id
    FROM s3 GROUP BY 1
"""


HASH_DIM = 64  # feature-hashing target dimension


def text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text vectorization (the "hashing trick", Weinberger
    et al. ICML'09): each document becomes a fixed HASH_DIM-dim integer
    vector — bucket = hash(word) mod dim, signed by an independent hash
    bit so collisions cancel in expectation.  The bridge from raw text to
    ML features with NO vocabulary state (the input side of the
    ``ml_logreg_*`` filter-distillation family), streaming-friendly by
    construction.

    Scale shape: one token explode + one partial-agg'd groupBy(doc_id,
    bucket) — the (doc, bucket) table is at most dim rows per doc — then
    a map-side dense-fill to the fixed-width vector.  All-integer, so the
    comma-joined emission is hash-exact cross-engine (same idiom as
    ``emb_quantize_int8``).
    """
    tok = doc_tokens(spark, sf_dir).select("doc_id", "word")
    h = phash32(F.col("word"), "fe")
    per = (
        tok.select(
            "doc_id",
            (h % HASH_DIM).cast("int").alias("b"),
            # sign from bit 6: independent of the low-6-bit bucket
            F.when(F.shiftright(h, 6).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
            .alias("s"),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("s").cast("long").alias("v"))
    )
    m = per.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "v"))).alias("m")
    )
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(HASH_DIM - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("int")), F.lit(0)),
    )
    return m.select(
        "doc_id",
        F.concat_ws(",", F.transform(arr, lambda x: x.cast("string"))).alias("vec"),
        F.aggregate(
            arr, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("l1"),
    ).orderBy("doc_id")


QUERIES["text_hash_embed"] = text_hash_embed
ORACLE["text_hash_embed"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_W}) AS word FROM documents),
    per AS (
      SELECT doc_id,
             ({phash32_sql("word", "fe")} % {HASH_DIM})::INT AS b,
             sum(CASE WHEN ({phash32_sql("word", "fe")} >> 6) & 1 = 1
                      THEN 1 ELSE -1 END)::BIGINT AS v
      FROM tok GROUP BY 1, 2),
    grid AS (
      SELECT d.doc_id, g.b, coalesce(p.v, 0)::BIGINT AS v
      FROM (SELECT DISTINCT doc_id FROM per) d
      CROSS JOIN (SELECT unnest(generate_series(0, {HASH_DIM - 1}))::INT AS b) g
      LEFT JOIN per p ON p.doc_id = d.doc_id AND p.b = g.b)
    SELECT doc_id,
           array_to_string(list(v::VARCHAR ORDER BY b), ',') AS vec,
           sum(abs(v))::BIGINT AS l1
    FROM grid
    GROUP BY doc_id
    ORDER BY doc_id
"""


# --- corpus dedup funnel (yield report) ---------------------------------------

FUNNEL_STAGES = ("raw", "quality", "exact", "neardup", "decontam")


def corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation yield report: documents and tokens surviving each
    stage of the standard funnel — raw -> quality filter -> exact dedup
    (md5 digest, keep min doc_id) -> near-dup canonicalization (SimHash
    components, keep canonical) -> decontamination (drop eval docs + docs
    sharing eval 4-grams).  One row per stage with doc/token counts and
    integer-ppm retention vs raw — the dashboard number a training-data
    pipeline publishes per snapshot ("how much corpus survives, and which
    stage eats it"), next to the corpus itself (:func:`corpus_curate`,
    whose keep-set equals this funnel's final stage by construction —
    asserted in tests).

    Scale shape: each removal list (exact non-canonicals, near-dup
    non-canonicals, contaminated docs) is tiny relative to the corpus, so
    every membership join broadcasts under AQE; the per-doc drop level is
    ONE pass over the quality frame; the funnel itself aggregates to
    |levels| <= 5 rows, then a <= 5x5 literal-stage join produces the
    cumulative counts — nothing wider than the corpus is ever shuffled,
    and the near-dup pairs come from the session-shared artifact
    (``dedup.shared_dup_pairs``).
    """
    from .dedup import dedup_components

    q = text_quality(spark, sf_dir).select("doc_id", "n_words", "quality")
    d = load_spread(spark, sf_dir, "documents")
    digests = d.select("doc_id", F.md5("text").alias("digest"))
    keep = digests.groupBy("digest").agg(F.min("doc_id").alias("keep_id"))
    exact_removals = (
        digests.join(keep, "digest")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", F.lit(1).alias("_ex"))
    )
    dup_removals = (
        dedup_components(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("component_id"))
        .select("doc_id", F.lit(1).alias("_nd"))
    )
    contaminated = text_decontaminate(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("_ct")
    )
    is_eval = phash32(F.col("doc_id"), "evalsplit") % EVAL_SPLIT_MOD == 0
    # quality NULL (empty doc) fails the filter, like corpus_curate's >=
    qok = F.coalesce(F.col("quality") >= F.lit(QUALITY_MIN), F.lit(False))
    lev = (
        F.when(~qok, 0)
        .when(F.col("_ex") == 1, 1)
        .when(F.col("_nd") == 1, 2)
        .when(is_eval | (F.col("_ct") == 1), 3)
        .otherwise(4)
    )
    flags = (
        q.join(exact_removals, "doc_id", "left")
        .join(dup_removals, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
        .select("n_words", lev.alias("lev"))
    )
    byl = flags.groupBy("lev").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("n_words").alias("nt")
    )
    stages = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("stage_idx"),
                        F.lit(nm).alias("stage"),
                    )
                    for i, nm in enumerate(FUNNEL_STAGES)
                ]
            )
        )
    )
    cum = (
        stages.join(F.broadcast(byl), F.col("lev") >= F.col("stage_idx"))
        .groupBy("stage_idx", "stage")
        .agg(
            F.sum("nd").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )
    raw = byl.agg(
        F.sum("nd").alias("_rd"), F.sum("nt").alias("_rt")
    )
    return cum.crossJoin(F.broadcast(raw)).select(
        "stage_idx",
        "stage",
        "n_docs",
        "n_tokens",
        F.expr("(n_docs * 1000000) div _rd").cast("long").alias("docs_ppm"),
        F.expr("(n_tokens * 1000000) div _rt").cast("long").alias("tokens_ppm"),
    )


def _funnel_oracle() -> str:
    from .dedup import ORACLE as DEDUP_ORACLE

    return f"""
    WITH q AS ({ORACLE["text_quality"]}),
    contam AS ({ORACLE["text_decontaminate"]}),
    exact_removals AS (
      SELECT doc_id FROM (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        FROM documents) t
      WHERE doc_id <> keep_id),
    dup_removals AS (
      SELECT doc_id FROM ({DEDUP_ORACLE["dedup_components"]}) cc
      WHERE doc_id <> component_id),
    lev AS (
      SELECT q.n_words,
             CASE
               WHEN NOT coalesce(q.quality >= {QUALITY_MIN}, false) THEN 0
               WHEN q.doc_id IN (SELECT doc_id FROM exact_removals) THEN 1
               WHEN q.doc_id IN (SELECT doc_id FROM dup_removals) THEN 2
               WHEN ({phash32_sql("q.doc_id::VARCHAR", "evalsplit")}
                     % {EVAL_SPLIT_MOD}) = 0
                 OR q.doc_id IN (SELECT doc_id FROM contam) THEN 3
               ELSE 4 END AS lev
      FROM q),
    stages AS (
      SELECT * FROM (VALUES {", ".join(f"({i}, '{nm}')" for i, nm in enumerate(FUNNEL_STAGES))})
             AS t(stage_idx, stage)),
    raw AS (SELECT count(*) AS rd, sum(n_words) AS rt FROM lev)
    SELECT CAST(s.stage_idx AS INTEGER) AS stage_idx, s.stage,
           count(*)::BIGINT AS n_docs,
           CAST(sum(l.n_words) AS BIGINT) AS n_tokens,
           CAST((count(*) * 1000000) // (SELECT rd FROM raw) AS BIGINT)
             AS docs_ppm,
           CAST((sum(l.n_words) * 1000000) // (SELECT rt FROM raw) AS BIGINT)
             AS tokens_ppm
    FROM stages s JOIN lev l ON l.lev >= s.stage_idx
    GROUP BY s.stage_idx, s.stage
    """


QUERIES["corpus_dedup_funnel"] = corpus_dedup_funnel
ORACLE["corpus_dedup_funnel"] = _funnel_oracle()


BOILER_K = 3  # prefix length (words) profiled for boilerplate


def text_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detector: the most frequent BOILER_K-word
    document prefix in each source and the share of that source's docs
    carrying it (integer ppm) — the profiling pass before a
    strip-the-template cleanup (site headers, license banners, scraper
    artifacts all surface as high-share shared prefixes).

    Scale shape: map-only prefix extraction (slice of the token array),
    one partial-agg (source, prefix) count, then a source-partitioned
    top-1 window over the AGGREGATED counts (|sources x prefixes|, not
    docs).  Ties break lexicographically so the winner is deterministic.
    """
    d = load_spread(spark, sf_dir, "documents")
    w = words(F.col("text"))
    pref = (
        d.select("source", F.concat_ws(" ", F.slice(w, 1, BOILER_K)).alias("prefix"),
                 F.size(w).alias("nw"))
        .filter(F.col("nw") >= BOILER_K)
    )
    counts = pref.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = pref.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    win = Window.partitionBy("source").orderBy(
        F.col("n_docs").desc(), F.col("prefix").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") == 1)
        .join(totals, "source")
        .select(
            "source",
            "prefix",
            "n_docs",
            F.expr("(n_docs * 1000000) div n_total").cast("long")
            .alias("share_ppm"),
        )
    )


QUERIES["text_boilerplate_prefix"] = text_boilerplate_prefix
ORACLE["text_boilerplate_prefix"] = f"""
    WITH d AS (
      SELECT source, {_W} AS w FROM documents),
    pref AS (
      SELECT source, array_to_string(w[1:{BOILER_K}], ' ') AS prefix
      FROM d WHERE len(w) >= {BOILER_K}),
    counts AS (
      SELECT source, prefix, count(*) AS n_docs
      FROM pref GROUP BY source, prefix),
    totals AS (SELECT source, count(*) AS n_total FROM pref GROUP BY source),
    top1 AS (
      SELECT source, prefix, n_docs FROM (
        SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY n_docs DESC, prefix) AS rk
        FROM counts) r WHERE rk = 1)
    SELECT t.source, t.prefix, t.n_docs,
           ((t.n_docs * 1000000) // tt.n_total)::BIGINT AS share_ppm
    FROM top1 t JOIN totals tt ON t.source = tt.source
"""


BM25_QUERY = ("hash", "join", "window", "scan")
BM25_TOPK = 10
# k1 = 1.2, b = 0.75 in thousandths (integer arithmetic end-to-end)
_BM25_K1_Q = 1200
_BM25_B_Q = 750


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query — the lexical retrieval
    scorer every RAG/eval pipeline runs next to its ANN index (tf-idf's
    production successor: tf saturation via k1, length normalization via
    b).  Returns the top-k docs for ``BM25_QUERY`` with their integer
    micro-scores.

    Integer exactness: idf is pre-quantized (round(ln((N-df+.5)/(df+.5)+1)
    * 1e6)); the saturation fraction tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    is evaluated in thousandths with truncating division, so scores are
    bit-identical across engines and the (score desc, doc_id) order is
    total.

    Scale shape: tokens are filtered to the |Q| query terms BEFORE the
    per-doc tf agg (the explode never shuffles non-query terms); df and
    avgdl are |Q|-row / 1-row broadcast aggregates; the final top-k is
    TakeOrderedAndProject (per-partition heaps, k rows to the driver) —
    no global sort.  At 100 TB an inverted index (text_inverted_index)
    would replace the scan, but the scoring algebra is unchanged.
    """
    d = load_spread(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(words(F.col("text"))).alias("dl"),
        F.explode(words(F.col("text"))).alias("term"),
    )
    qt = toks.filter(F.col("term").isin(*BM25_QUERY))
    tf = qt.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words(F.col("text")))).alias("sum_dl"),
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        * 1e6
    ).cast("long")
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl_mil", F.expr("(sum_dl * 1000) div n_docs"))
        .withColumn("idf_q", idf)
        .withColumn(
            "lnorm_q",
            F.expr(
                f"{1000 - _BM25_B_Q} + ({_BM25_B_Q} * dl * 1000) div avgdl_mil"
            ),
        )
        .withColumn(
            "s_micro",
            F.expr(
                f"(idf_q * tf * ({_BM25_K1_Q} + 1000)) div"
                f" (tf * 1000 + ({_BM25_K1_Q} * lnorm_q) div 1000)"
            ).cast("long"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("s_micro").cast("long").alias("score_micro"),
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.max("dl").alias("dl"),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


QUERIES["text_bm25_topk"] = text_bm25_topk


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
    WITH d AS (SELECT doc_id, {_W} AS w FROM documents),
    toks AS (
      SELECT doc_id, len(w) AS dl, t.term
      FROM d, LATERAL unnest(w) AS t(term)
      WHERE t.term IN ({terms})),
    tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
           FROM toks GROUP BY doc_id, term),
    stats AS (SELECT count(*) AS n_docs, sum(len(w)) AS sum_dl FROM d),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.tf, tf.dl,
             CAST(round(ln((stats.n_docs - df.df + 0.5)
                           / (df.df + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_q,
             (stats.sum_dl * 1000) // stats.n_docs AS avgdl_mil
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats),
    s2 AS (
      SELECT doc_id, tf, dl,
             (idf_q * tf * ({_BM25_K1_Q} + 1000))
               // (tf * 1000 + ({_BM25_K1_Q}
                    * ({1000 - _BM25_B_Q} + ({_BM25_B_Q} * dl * 1000)
                        // avgdl_mil)) // 1000) AS s_micro
      FROM scored)
    SELECT doc_id, sum(s_micro)::BIGINT AS score_micro,
           count(*)::BIGINT AS n_terms_hit, max(dl)::BIGINT AS dl
    FROM s2 GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT {BM25_TOPK}
    """


ORACLE["text_bm25_topk"] = _bm25_oracle()


QSWEEP_STEP_BP = 2000  # threshold step = 0.2 in quality basis points (1e-4)
QSWEEP_STEPS = 7  # thresholds 0.0, 0.2, ..., 1.2 (score max = 0.4+0.3+0.3)


def eval_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-knob table: for each candidate quality threshold, how
    many documents and what token share survive ``quality >= thr`` — the
    one-page answer to "where do we set the filter?" that otherwise takes
    a rescan per candidate.  Rides the session-memoized ``text_quality``
    frame, so the corpus is scanned at most once for the whole family.

    Exactness: quality is DECIMAL(7,4), so ``quality * 10000`` is an exact
    integer; docs bucket by threshold step once and the sweep is a
    cumulative sum over the (bounded, <= QSWEEP_STEPS) bucket rows — every
    threshold row is emitted even when empty (left grid join), because a
    missing row reads as "filter untested" on a dashboard.

    Scale shape: one pass over the quality frame into <= 7 bucket rows;
    the grid join and cumulative arithmetic touch only those 7 rows — the
    broadcast-nested-loop is 7x7.  At 100 TB the sweep costs exactly the
    bucket agg (one shuffle of 7 rows per partition).
    """
    q = text_quality(spark, sf_dir).select("doc_id", "n_words", "quality")
    b = q.select(
        F.least(
            F.expr(f"CAST(quality * 10000 AS BIGINT) div {QSWEEP_STEP_BP}"),
            F.lit(QSWEEP_STEPS - 1),
        ).alias("b"),
        "n_words",
    ).groupBy("b").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_words").alias("toks")
    )
    total = b.agg(
        F.sum("n_docs").alias("total_docs"), F.sum("toks").alias("total_toks")
    )
    grid = spark.range(QSWEEP_STEPS).select(F.col("id").alias("t"))
    kept = (
        grid.join(F.broadcast(b), F.col("b") >= F.col("t"), "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs_kept"),
            F.coalesce(F.sum("toks"), F.lit(0)).alias("tokens_kept"),
        )
    )
    return kept.crossJoin(F.broadcast(total)).select(
        (F.col("t") * (QSWEEP_STEP_BP // 100)).cast("long").alias("thr_centi"),
        F.col("n_docs_kept").cast("long").alias("n_docs_kept"),
        F.col("tokens_kept").cast("long").alias("tokens_kept"),
        F.expr("(n_docs_kept * 1000000) div total_docs").cast("long")
        .alias("docs_kept_ppm"),
        F.expr("(tokens_kept * 1000000) div total_toks").cast("long")
        .alias("tokens_kept_ppm"),
    )


QUERIES["eval_quality_threshold_sweep"] = eval_quality_threshold_sweep
ORACLE["eval_quality_threshold_sweep"] = f"""
    WITH q AS ({{QUALITY}}),
    b AS (
      SELECT least(CAST(quality * 10000 AS BIGINT) // {QSWEEP_STEP_BP},
                   {QSWEEP_STEPS - 1}) AS b,
             count(*) AS n_docs, sum(n_words) AS toks
      FROM q GROUP BY 1),
    total AS (SELECT sum(n_docs) AS total_docs, sum(toks) AS total_toks FROM b),
    grid AS (SELECT unnest(generate_series(0, {QSWEEP_STEPS - 1})) AS t),
    kept AS (
      SELECT grid.t,
             coalesce(sum(b.n_docs), 0) AS n_docs_kept,
             coalesce(sum(b.toks), 0) AS tokens_kept
      FROM grid LEFT JOIN b ON b.b >= grid.t
      GROUP BY grid.t)
    SELECT (t * {QSWEEP_STEP_BP // 100})::BIGINT AS thr_centi,
           n_docs_kept::BIGINT AS n_docs_kept,
           tokens_kept::BIGINT AS tokens_kept,
           ((n_docs_kept * 1000000) // total_docs)::BIGINT AS docs_kept_ppm,
           ((tokens_kept * 1000000) // total_toks)::BIGINT AS tokens_kept_ppm
    FROM kept, total
""".replace("{QUALITY}", ORACLE["text_quality"])


def text_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc benchmark coverage: for each held-out eval document,
    the fraction of its distinct 4-grams that also appear somewhere in the
    training split — ``text_decontaminate`` viewed from the eval side (the
    leakage PROFILE: an eval doc near 1e6 ppm is memorizable from training
    data and should be rotated out of the benchmark).

    Scale shape chosen for a 100 TB training split: the eval gram set is
    small and BROADCASTS; the training gram stream map-side inner-joins
    against it, and only the MATCHES (bounded by |eval grams|, not by the
    corpus) reach the distinct — the training side is never globally
    deduplicated.  The per-doc rollup then joins eval grams to that tiny
    hit set.  Grams travel as 60-bit portable hashes, never strings.
    """
    d = load_spread(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        word_shingles(words(F.col("text")), 4).alias("g"),
        (phash32(F.col("doc_id"), "evalsplit") % EVAL_SPLIT_MOD == 0).alias(
            "is_eval"
        ),
    )
    gh = lambda c: phash60(c, "cov")
    ev = (
        base.filter(F.col("is_eval"))
        .select("doc_id", F.explode("g").alias("gram"))
        .select("doc_id", gh(F.col("gram")).alias("gh"))
    )
    tr = (
        base.filter(~F.col("is_eval"))
        .select(F.explode("g").alias("gram"))
        .select(gh(F.col("gram")).alias("gh"))
    )
    hit = tr.join(F.broadcast(ev.select("gh").distinct()), "gh").distinct()
    return (
        ev.join(F.broadcast(hit.withColumn("covered", F.lit(1))), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("covered"), F.lit(0)))
            .cast("long")
            .alias("n_covered"),
        )
        .withColumn(
            "coverage_ppm", F.expr("(n_covered * 1000000) div n_grams")
        )
    )


QUERIES["text_ngram_coverage"] = text_ngram_coverage


def _ngram_coverage_oracle() -> str:
    from ..functions import phash60_sql

    return f"""
    WITH base AS (
      SELECT doc_id, {word_shingles_sql("w", 4)} AS g,
             ({phash32_sql("doc_id::VARCHAR", "evalsplit")}
              % {EVAL_SPLIT_MOD} = 0) AS is_eval
      FROM (SELECT doc_id, {_W} AS w FROM documents)),
    ev AS (SELECT doc_id, {phash60_sql("gram", "cov")} AS gh
           FROM (SELECT doc_id, unnest(g) AS gram FROM base WHERE is_eval)),
    tr AS (SELECT DISTINCT {phash60_sql("gram", "cov")} AS gh
           FROM (SELECT unnest(g) AS gram FROM base WHERE NOT is_eval)),
    hit AS (SELECT DISTINCT ev.gh FROM ev JOIN tr ON ev.gh = tr.gh),
    per AS (
      SELECT ev.doc_id, count(*) AS n_grams,
             sum(CASE WHEN hit.gh IS NOT NULL THEN 1 ELSE 0 END) AS n_covered
      FROM ev LEFT JOIN hit ON ev.gh = hit.gh
      GROUP BY ev.doc_id)
    SELECT doc_id, n_grams::BIGINT AS n_grams, n_covered::BIGINT AS n_covered,
           ((n_covered * 1000000) // n_grams)::BIGINT AS coverage_ppm
    FROM per
    """


ORACLE["text_ngram_coverage"] = _ngram_coverage_oracle()


def eval_bpe_compression_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-size calibration: corpus compression (BPE tokens per
    whitespace word) after EACH learned merge, rank 0 (character-split
    baseline) through BPE_ROUNDS — the "how big should the vocab be"
    curve a tokenizer-training run reports before committing, the BPE
    twin of ``eval_quality_threshold_sweep``.  tokens_per_word_q is
    monotone NONINCREASING in rank: every merge can only shorten
    encodings (pytest-pinned).

    Scale shape: the expensive pass is the one word-frequency groupBy the
    learner already makes; every per-round aggregate runs on the
    |vocab|-row state table (corpus-weighted via cnt — the corpus itself
    is scanned exactly once).  The per-round states union into ONE
    (rank, cnt, s) frame, session-memoized ("bpe_states_all", r08 — the
    _bpe_artifacts pattern: the sweep re-ran the whole unrolled merge
    chain per invocation; the frame is (BPE_ROUNDS+1) x |vocab| rows,
    vocab-bounded), and the sweep is one partial-agg'd groupBy(rank).
    """
    def build() -> DataFrame:
        _, _, states = _bpe_state(spark, sf_dir)
        out = None
        for r, st in enumerate(states):
            stt = st.select(
                F.lit(r).cast("long").alias("rank"), "cnt", "s"
            )
            out = stt if out is None else out.unionByName(stt)
        return out

    sts = artifact(spark, sf_dir, "bpe_states_all", build)
    n_sym = F.size(F.split(F.trim(F.col("s")), " "))
    rows = sts.groupBy("rank").agg(
        F.sum("cnt").cast("long").alias("total_words"),
        F.sum(F.col("cnt") * n_sym).cast("long").alias("total_bpe_tokens"),
    )
    return rows.select(
        "rank",
        "total_words",
        "total_bpe_tokens",
        F.expr("(total_bpe_tokens * 1000000) div total_words")
        .cast("long")
        .alias("tokens_per_word_q"),
    )


QUERIES["eval_bpe_compression_sweep"] = eval_bpe_compression_sweep


def _bpe_sweep_oracle() -> str:
    selects = [
        f"""SELECT {r} AS rank, sum(cnt)::BIGINT AS total_words,
               sum(cnt * len(string_split(trim(s), ' ')))::BIGINT
                 AS total_bpe_tokens,
               (sum(cnt * len(string_split(trim(s), ' '))) * 1000000)
                 // sum(cnt) AS tokens_per_word_q
        FROM wf{r}"""
        for r in range(0, BPE_ROUNDS + 1)
    ]
    return _bpe_cte_chain() + "\n" + "\nUNION ALL\n".join(selects)


ORACLE["eval_bpe_compression_sweep"] = _bpe_sweep_oracle()
