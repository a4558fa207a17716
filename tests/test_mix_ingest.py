"""The mixture-ingest maintainer (streaming/mix_ingest.py): a python replay
with replay idempotence, untargeted sub-ppm sources, and the streaming
path.
"""

from .conftest import SF_SMOKE


def test_mix_ingest_matches_python_replay_and_is_idempotent(spark, tmp_path):
    """Streaming mixture sampler: the kept set must equal an independent
    python replay of the policy (cumulative ledger -> integer rates ->
    md5-hash membership), batches replay idempotently, and the ledger
    equals a direct recount."""
    import hashlib

    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.streaming.mix_ingest import (
        RATE_SCALE,
        TARGET_PPM,
        ingest_mix_batch,
        kept_docs,
        ledger,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    state = str(tmp_path / "mix")
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, part in enumerate(parts):
        ingest_mix_batch(spark, state, part, batch_id=i)

    # python replay of the exact policy
    def toks(t):
        return len([w for w in t.lower().split() if w])

    def h32(doc_id):
        return int(hashlib.md5(f"mix:{doc_id}".encode()).hexdigest()[:8], 16)

    rows = docs.collect()
    by_batch = {i: [r for r in rows if r.doc_id % 3 == i] for i in range(3)}
    cum = {}
    expect = set()
    for i in range(3):
        for r in by_batch[i]:
            cum[r.source] = cum.get(r.source, 0) + toks(r.text)
        total = sum(cum.values())
        rates = {}
        for src, tk in cum.items():
            share = tk * RATE_SCALE // total
            tgt = TARGET_PPM.get(src, 0)
            if share == 0:  # sub-ppm share: whole if targeted, else drop
                rates[src] = RATE_SCALE if tgt > 0 else 0
            else:
                rates[src] = min(RATE_SCALE, tgt * RATE_SCALE // share)
        for r in by_batch[i]:
            if h32(r.doc_id) % RATE_SCALE < rates[r.source]:
                expect.add(r.doc_id)

    got = {r.doc_id for r in kept_docs(spark, state).collect()}
    assert got == expect and got  # non-empty and exact
    # kept sources are exactly the targeted ones
    assert {r.source for r in kept_docs(spark, state).collect()} <= set(
        TARGET_PPM
    )

    # ledger equals a direct recount
    led = {r.source: r.tokens for r in ledger(spark, state).collect()}
    assert led == cum

    # crash-replay of the middle batch is byte-identical (same kept set)
    ingest_mix_batch(spark, state, parts[1], batch_id=1)
    assert {r.doc_id for r in kept_docs(spark, state).collect()} == expect


def test_mix_ingest_untargeted_subppm_source_drops(spark, tmp_path):
    """An UNTARGETED source whose cumulative tokens round to < 1 ppm of a
    mature ledger must still drop entirely (the module convention) — the
    zero-share pass-whole guard is for TARGETED sources only."""
    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.streaming.mix_ingest import (
        TARGET_PPM,
        ingest_mix_batch,
        kept_docs,
        ledger,
    )

    assert "rogue" not in TARGET_PPM
    targeted = next(iter(TARGET_PPM))
    state = str(tmp_path / "mix")
    # batch 0: a mature ledger — >1M tokens on a targeted source
    big_text = " ".join(["tok"] * 5000)
    b0 = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit(targeted).alias("source"),
        F.lit(big_text).alias("text"),
    )
    ingest_mix_batch(spark, state, b0, batch_id=0)
    # batch 1: a brand-new untargeted source with ONE token -> share_ppm 0
    b1 = spark.createDataFrame(
        [(9_000_001, "rogue", "solo")], "doc_id long, source string, text string"
    )
    ingest_mix_batch(spark, state, b1, batch_id=1)

    led = {r.source: r.tokens for r in ledger(spark, state).collect()}
    assert led["rogue"] * 1_000_000 // sum(led.values()) == 0  # truly sub-ppm
    kept = kept_docs(spark, state)
    assert kept.filter(F.col("source") == "rogue").count() == 0


def test_mix_ingest_streaming_path(spark, tmp_path):
    """The foreachBatch wiring: a 2-file json document stream drained with
    maxFilesPerTrigger=1 must leave the same state as direct batch calls
    with the same split."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from mysql_cdc_debezium_starrocks_spark.streaming.mix_ingest import (
        ingest_mix_batch,
        kept_docs,
        start_mix_ingest,
    )

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "source", "text")
        .limit(200)
        .collect()
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    halves = [docs[:100], docs[100:]]
    for i, half in enumerate(halves):
        with open(f"{src}/part{i}.json", "w") as f:
            for r in half:
                f.write(
                    _json.dumps(
                        {"doc_id": r.doc_id, "source": r.source, "text": r.text}
                    )
                    + "\n"
                )

    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    state = str(tmp_path / "mix_stream")
    q = start_mix_ingest(spark, stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    ref_state = str(tmp_path / "mix_ref")
    for i, half in enumerate(halves):
        df = spark.createDataFrame(half, "doc_id long, source string, text string")
        ingest_mix_batch(spark, ref_state, df, batch_id=i)

    got = {r.doc_id for r in kept_docs(spark, state).collect()}
    want = {r.doc_id for r in kept_docs(spark, ref_state).collect()}
    assert got == want and got
