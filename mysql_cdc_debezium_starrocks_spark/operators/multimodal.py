"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio codecs, so the *decode* step is stubbed
(``decode_image`` raises ``NotImplementedError``), but everything Spark-side
that a 100 TB multimodal pipeline needs is real and tested:

- binary columns flow through parquet scan -> projection (``mm_binary_meta``);
- Arrow-batched ``mapInPandas`` feature extraction with an explicit output
  schema (``mm_fake_features``) — the deterministic stand-in computes the
  same bytes-level features a decoder would hand back, so the DuckDB oracle
  can verify the full UDF path (batch slicing, schema, row alignment);
- frame sampling that EXPANDS rows (one doc -> many frames), the shape of
  video-frame extraction (``mm_frame_sample``).

The fixture has no binary column, so payloads are derived as utf-8 bytes of
``documents.text`` — ASCII by construction, hence byte == char and the oracle
can mirror byte math with string functions.

Scale notes: mapInPandas processes Arrow record batches (10k rows default) —
decode cost is per-batch vectorizable and the operator is map-only; for real
media, feed ``spark.sql.execution.arrow.maxRecordsPerBatch`` small enough
that batch_bytes = rows x blob_size fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import cached_count, load_spread
from ..functions import phash32, phash32_sql
from ._artifacts import artifact

FRAME_BYTES = 16
FRAME_STRIDE = 4  # sample every 4th frame
CHECKSUM_MOD = 9973


try:  # soft codec dependency: feature-gated, never required at import time
    from PIL import Image as _PILImage  # type: ignore
except ImportError:  # container ships no codec; byte-path operators still run
    _PILImage = None

IMAGE_CODEC_AVAILABLE = _PILImage is not None


def _decode_ppm(payload: bytes):
    """Binary PPM (P6, maxval<=255): pure-python header parse + one numpy
    reshape — no codec library needed for this trivial format."""
    import numpy as np

    # header = 4 whitespace-separated tokens (magic, w, h, maxval), with
    # '#'-comments allowed between them, then ONE whitespace byte, then raw
    # RGB rows
    tokens, i = [], 2  # skip b"P6"
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    w, h, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    i += 1  # the single whitespace after maxval
    px = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return px.reshape(h, w, 3).copy()


def _decode_bmp(payload: bytes):
    """Uncompressed 24-bit BMP: fixed little-endian header offsets, rows
    padded to 4 bytes and stored bottom-up, BGR order."""
    import struct

    import numpy as np

    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("BMP core-header variant not supported")
    w, h = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP supported")
    flipped = h > 0  # positive height = bottom-up row order
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)
    img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    return (img[::-1] if flipped else img).copy()


def decode_image(payload: bytes):
    """Decode image bytes to an HxWx3 uint8 numpy array (RGB).

    PPM (P6) and uncompressed 24-bit BMP decode dependency-free (pure
    python + numpy), so the decode path is exercised in-container; every
    other format is pillow-backed when available (``IMAGE_CODEC_AVAILABLE``)
    and otherwise raises ``NotImplementedError``.  Inside a Pandas-UDF batch
    this is called per blob — for compressed formats the decode is C-side
    (libjpeg et al.), so the Python-loop overhead is amortized over
    megapixel payloads, not rows.
    """
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if _PILImage is None:
        raise NotImplementedError(
            "decoding this format needs a codec library (pillow/opencv) not "
            "present in this environment; PPM/BMP decode dependency-free, "
            "and mm_fake_features is the tested byte path"
        )
    import io

    import numpy as np

    with _PILImage.open(io.BytesIO(payload)) as im:
        return np.asarray(im.convert("RGB"))


def _with_blob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents")
    return d.select("doc_id", F.encode("text", "utf-8").alias("blob"))


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column — pure projection."""
    b = _with_blob(spark, sf_dir)
    return b.select(
        "doc_id",
        F.length("blob").alias("n_bytes"),
        F.lower(F.hex(F.substring("blob", 1, 8))).alias("header_hex"),
        F.md5("blob").alias("content_md5"),
    )


def mm_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas).

    Deterministic stand-in for a decoder: byte length, first/last byte
    values, and a mod-checksum over all bytes.  Exercises the real UDF
    surface — batch iteration, explicit schema, pandas vectorization.
    """
    b = _with_blob(spark, sf_dir)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["blob"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": blobs.map(len).astype("int64"),
                    "first_byte": blobs.map(lambda x: x[0]).astype("int32"),
                    "last_byte": blobs.map(lambda x: x[-1]).astype("int32"),
                    "checksum": blobs.map(
                        lambda x: sum(x) % CHECKSUM_MOD
                    ).astype("int64"),
                }
            )

    schema = (
        "doc_id long, n_bytes long, first_byte int, last_byte int, checksum long"
    )
    return b.mapInPandas(extract, schema)


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (row-expanding mapInPandas): chop the payload into
    16-byte frames, keep every 4th, fingerprint each — video-frame shape."""
    b = _with_blob(spark, sf_dir)

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, idxs, digests = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                n_frames = len(blob) // FRAME_BYTES
                for fi in range(0, n_frames, FRAME_STRIDE):
                    chunk = blob[fi * FRAME_BYTES : (fi + 1) * FRAME_BYTES]
                    ids.append(doc_id)
                    idxs.append(fi)
                    digests.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "frame_idx": pd.Series(idxs, dtype="int32"),
                 "frame_md5": pd.Series(digests, dtype="object")}
            )

    return b.mapInPandas(frames, "doc_id long, frame_idx int, frame_md5 string")


AUDIO_WIN = 32  # samples per energy window


def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS energy over an opaque "audio" payload — the
    audio-feature shape (decode -> frame -> per-window energy), with the
    blob's bytes standing in for 8-bit PCM samples (no audio codec ships in
    this container; a deployment plugs soundfile/librosa into the decode).

    numpy-vectorized mapInPandas: each Arrow batch reshapes to (n_win, W)
    and reduces in one BLAS pass per blob.  Window sums are integer-exact
    (sum of 8-bit squares in float64) and the window count is len//W on
    both engines, so the oracle matches to the rounded 4 decimals exactly.
    Row-expanding (one row per window), map-only — no shuffle.
    """
    b = _with_blob(spark, sf_dir)

    def energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, widx, rms = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                a = np.frombuffer(bytes(blob), dtype=np.uint8)
                n_win = len(a) // AUDIO_WIN
                if not n_win:
                    continue
                seg = a[: n_win * AUDIO_WIN].astype(np.float64).reshape(n_win, AUDIO_WIN)
                e = np.sqrt((seg * seg).mean(axis=1))
                ids.extend([doc_id] * n_win)
                widx.extend(range(n_win))
                rms.extend(e.tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "win_idx": pd.Series(widx, dtype="int32"),
                    "rms_raw": pd.Series(rms, dtype="float64"),
                }
            )

    out = b.mapInPandas(energy, "doc_id long, win_idx int, rms_raw double")
    return out.select(
        "doc_id",
        "win_idx",
        F.round(F.col("rms_raw"), 4).cast("decimal(10,4)").alias("rms"),
    )


RESIZE_TARGET = 32  # thumbnail "pixel" count


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/thumbnail plumbing (mapInPandas): stride-sample each payload
    down to RESIZE_TARGET bytes — the image-resize shape (decode -> sample
    grid -> re-encode) with a deterministic byte stand-in, since no codec
    library ships in this container (see :func:`decode_image`).

    Emits the thumbnail's byte count, md5, and mean intensity; the real
    Spark surface (binary column through Arrow batches, explicit schema,
    one output row per input) is identical with a real resampler.
    """
    b = _with_blob(spark, sf_dir)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, orig, cnt, digest, mean = [], [], [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                n = len(blob)
                stride = max(1, n // RESIZE_TARGET)
                thumb = bytes(
                    blob[i * stride]
                    for i in range(RESIZE_TARGET)
                    if i * stride < n
                )
                ids.append(doc_id)
                orig.append(n)
                cnt.append(len(thumb))
                digest.append(hashlib.md5(thumb).hexdigest())
                # raw sum only: rounding happens JVM-side with F.round so
                # half-up matches DuckDB (Python round is banker's)
                mean.append(sum(thumb))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "orig_bytes": pd.Series(orig, dtype="int64"),
                    "thumb_bytes": pd.Series(cnt, dtype="int32"),
                    "thumb_md5": pd.Series(digest, dtype="object"),
                    "thumb_sum": pd.Series(mean, dtype="int64"),
                }
            )

    out = b.mapInPandas(
        resize,
        "doc_id long, orig_bytes long, thumb_bytes int, thumb_md5 string,"
        " thumb_sum long",
    )
    mean = F.round(F.col("thumb_sum") / F.col("thumb_bytes"), 4).cast(
        "decimal(12,4)"
    )
    return out.select(
        "doc_id", "orig_bytes", "thumb_bytes", "thumb_md5",
        mean.alias("thumb_mean"),
    )


DECODE_W, DECODE_H = 4, 4  # synthesized thumbnail geometry
_PPM_HEADER = f"P6\n{DECODE_W} {DECODE_H}\n255\n".encode()


def mm_decode_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded-pixels oracle row: synthesize a real P6 PPM per doc (pixel
    bytes = the doc's first 48 text bytes, space-padded), run it through
    the REAL :func:`decode_image` path inside mapInPandas, and emit
    per-channel sums + the decoded array's md5.

    Because PPM decode is byte-exact, the DuckDB oracle reproduces every
    output from the text chars alone — this is the in-container proof that
    the decode branch (header parse, reshape, channel order) is correct,
    not just the byte-level stand-ins.
    """
    b = _with_blob(spark, sf_dir)
    npx = DECODE_W * DECODE_H * 3

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, rs, gs, bs, md5s = [], [], [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                raw = (bytes(blob) + b" " * npx)[:npx]
                img = decode_image(_PPM_HEADER + raw)
                assert img.shape == (DECODE_H, DECODE_W, 3)
                ids.append(doc_id)
                rs.append(int(img[:, :, 0].sum()))
                gs.append(int(img[:, :, 1].sum()))
                bs.append(int(img[:, :, 2].sum()))
                md5s.append(hashlib.md5(img.tobytes()).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "r_sum": pd.Series(rs, dtype="int64"),
                    "g_sum": pd.Series(gs, dtype="int64"),
                    "b_sum": pd.Series(bs, dtype="int64"),
                    "pixel_md5": pd.Series(md5s, dtype="object"),
                }
            )

    return b.mapInPandas(
        run, "doc_id long, r_sum long, g_sum long, b_sum long, pixel_md5 string"
    )


ORACLE = {
    # text is ASCII so encode(text) bytes == chars; DuckDB mirrors byte math
    # with string ops.
    "mm_binary_meta": """
        SELECT doc_id,
               CAST(len(text) AS INTEGER) AS n_bytes,
               lower(hex(substr(text, 1, 8))) AS header_hex,
               md5(text) AS content_md5
        FROM documents
    """,
    "mm_fake_features": f"""
        SELECT doc_id,
               len(text)::BIGINT AS n_bytes,
               CAST(unicode(substr(text, 1, 1)) AS INTEGER) AS first_byte,
               CAST(unicode(substr(text, len(text), 1)) AS INTEGER) AS last_byte,
               (list_reduce(list_prepend(0, list_transform(
                    generate_series(1, len(text)), i -> unicode(substr(text, i, 1)))),
                    (a, b) -> a + b) % {CHECKSUM_MOD})::BIGINT AS checksum
        FROM documents
    """,
    "mm_frame_sample": f"""
        SELECT doc_id,
               CAST(fi AS INTEGER) AS frame_idx,
               md5(substr(text, fi * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5
        FROM documents,
             LATERAL unnest(generate_series(0, len(text) // {FRAME_BYTES} - 1, {FRAME_STRIDE})) AS t(fi)
        WHERE len(text) >= {FRAME_BYTES}
    """,
}

ORACLE["mm_resize"] = f"""
    WITH t AS (
        SELECT doc_id, text, len(text) AS n,
               greatest(1, len(text) // {RESIZE_TARGET}) AS stride
        FROM documents
    ), s AS (
        SELECT doc_id, n,
               list_transform(
                   list_filter(generate_series(0, {RESIZE_TARGET} - 1),
                               i -> i * stride < n),
                   i -> substr(text, i * stride + 1, 1)) AS px
        FROM t
    )
    SELECT doc_id, n::BIGINT AS orig_bytes,
           CAST(len(px) AS INTEGER) AS thumb_bytes,
           md5(array_to_string(px, '')) AS thumb_md5,
           CAST(round(list_reduce(list_prepend(0, list_transform(px,
                    c -> unicode(c))), (a, b) -> a + b)::DOUBLE / len(px), 4)
                AS DECIMAL(12,4)) AS thumb_mean
    FROM s
"""

_NPX = DECODE_W * DECODE_H * 3

ORACLE["mm_decode_pixels"] = f"""
    WITH p AS (
      SELECT doc_id, substr(text || repeat(' ', {_NPX}), 1, {_NPX}) AS px
      FROM documents
    )
    SELECT doc_id,
           list_sum(list_transform(generate_series(0, {DECODE_W * DECODE_H - 1}),
               i -> unicode(substr(px, i * 3 + 1, 1))))::BIGINT AS r_sum,
           list_sum(list_transform(generate_series(0, {DECODE_W * DECODE_H - 1}),
               i -> unicode(substr(px, i * 3 + 2, 1))))::BIGINT AS g_sum,
           list_sum(list_transform(generate_series(0, {DECODE_W * DECODE_H - 1}),
               i -> unicode(substr(px, i * 3 + 3, 1))))::BIGINT AS b_sum,
           md5(px) AS pixel_md5
    FROM p
"""

QUERIES = {
    "mm_binary_meta": mm_binary_meta,
    "mm_fake_features": mm_fake_features,
    "mm_frame_sample": mm_frame_sample,
    "mm_audio_energy": mm_audio_energy,
    "mm_resize": mm_resize,
    "mm_decode_pixels": mm_decode_pixels,
}


ORACLE["mm_audio_energy"] = f"""
    WITH w AS (
      SELECT doc_id, text, len(text) // {AUDIO_WIN} AS n_win FROM documents
    )
    SELECT doc_id, CAST(wi AS INTEGER) AS win_idx,
           CAST(round(sqrt(
             list_sum(list_transform(
               list_transform(generate_series(1, {AUDIO_WIN}),
                              i -> unicode(substr(text, wi * {AUDIO_WIN} + i, 1))::DOUBLE),
               x -> x * x)) / {AUDIO_WIN}), 4) AS DECIMAL(10,4)) AS rms
    FROM w, LATERAL unnest(generate_series(0, n_win - 1)) AS t(wi)
    WHERE n_win > 0
"""


PHASH_W, PHASH_H = 8, 8  # block-mean pHash geometry (64 bits)
_PHASH_NPX = PHASH_W * PHASH_H * 3
_PHASH_HEADER = f"P6\n{PHASH_W} {PHASH_H}\n255\n".encode()
PHASH_BANDS = 4  # 4 x 16-bit bands for the Hamming-near-dup bucket join
PHASH_MAX_HAMMING = 6
# eval_phash_pr's exact-truth multi-index is Θ(m^2/512) in the evaluated
# image count m (7 bands x ~9 bits is the widest exact radius-6 banding 64
# bits admits), so the PR gate samples the corpus down to ~this many images
# via a hash span derived from count(*) — identically in the oracle
PHASH_EVAL_CAP = 25_000


def mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-mean perceptual image hash (the classic pHash/aHash family):
    synthesize a real 8x8 P6 PPM per doc (pixel bytes = the doc's first 192
    text bytes, space-padded — the same in-container stand-in
    ``mm_decode_pixels`` proves byte-exact), run the REAL decode path, gray
    = r+g+b per pixel (integer, no division), bit i = [gray_i * 64 >
    sum(gray)] — a 64-char bit string, brightness-invariant by
    construction.

    Scale shape: map-only mapInPandas over input splits (numpy-vectorized
    per batch), zero shuffle; the hash is the 8-byte-per-image artifact an
    image-dedup funnel materializes once.  Exactly oracled: PPM decode is
    byte-exact, so DuckDB reproduces every bit from the text chars alone.
    """
    # session-memoized ("image_phash"): the 8-byte-per-image index artifact
    # every pHash consumer (dupes, components) searches — one memo site
    return artifact(
        spark, sf_dir, "image_phash",
        lambda: phash_of(_with_blob(spark, sf_dir)),
    )


def phash_of(blobs: DataFrame) -> DataFrame:
    """Block-mean pHash of a (doc_id, blob) frame — the reusable kernel
    behind :func:`mm_image_phash` (batch, memoized per dataset) and
    ``streaming.phash_ingest`` (per micro-batch over new images only)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bits_out, ones = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                raw = (bytes(blob) + b" " * _PHASH_NPX)[:_PHASH_NPX]
                img = decode_image(_PHASH_HEADER + raw)
                gray = img.astype(np.int64).sum(axis=2).reshape(-1)  # 64 ints
                bits = (gray * gray.size > gray.sum()).astype(np.uint8)
                ids.append(doc_id)
                bits_out.append("".join("1" if x else "0" for x in bits))
                ones.append(int(bits.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "phash_bits": pd.Series(bits_out, dtype="object"),
                    "n_ones": pd.Series(ones, dtype="int32"),
                }
            )

    return blobs.mapInPandas(run, "doc_id long, phash_bits string, n_ones int")


def mm_phash_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs by pHash Hamming distance — SimHash-style
    banded blocking over the 64-bit perceptual hash: split the bit string
    into PHASH_BANDS 16-bit bands, bucket-join on any exact band match
    (a pair within Hamming <= PHASH_MAX_HAMMING <= 2*bands-2 shares at
    least one exact band by pigeonhole when errors spread; the standard
    recall/candidate tradeoff), then verify the TRUE Hamming distance on
    candidates only.

    Scale shape: the band join shuffles (band_idx, 16-char key, doc_id) —
    never pixels; candidate volume is bounded by band-bucket collisions
    exactly like ``dedup_simhash``.  The Hamming check compares two 64-char
    strings position-wise — integer-exact on both engines.  The verified
    pair set is session-memoized ("phash_pairs", the shared_dup_pairs
    pattern) for its downstream consumer (``mm_phash_components``).

    Band-saturation regime (round-8 pair harness, 200k synthesized
    diverse images): 1.0x wall for 8x rows — LINEAR; the four 65k-bucket
    bands' chance-collision term (~4 n^2 / 2^17 candidates) stays under
    the linear hash cost until n ~ 10^7 images; see
    ``dedup.dedup_simhash_pairs`` for why that floor is inherent to
    exact-recall banding and which knobs trade recall past it.
    """
    def build():
        return _phash_dupes_build(spark, sf_dir)

    return artifact(spark, sf_dir, "phash_pairs", build)


def phash_bands(ph: DataFrame) -> DataFrame:
    """Explode (doc_id, phash_bits) into PHASH_BANDS (band, key) rows —
    the blocking key both the batch dupes join and the streaming ingest
    store share."""
    band_w = 64 // PHASH_BANDS
    return ph.select(
        "doc_id",
        "phash_bits",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.substring("phash_bits", i * band_w + 1, band_w).alias(
                            "key"
                        ),
                    )
                    for i in range(PHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select(
        "doc_id", "phash_bits",
        F.col("b.band").alias("band"), F.col("b.key").alias("key"),
    )


def _phash_ints(ph: DataFrame) -> DataFrame:
    """(doc_id, hi, lo): the 64-char bit string as two 32-bit integer
    halves (MSB-first), so Hamming distance is ``bit_count(hi_a ^ hi_b) +
    bit_count(lo_a ^ lo_b)`` — one codegen'd instruction pair instead of a
    64-element interpreted ``zip_with`` over split strings, and the shuffle
    carries 16 bytes instead of 64 chars per side."""
    return ph.select(
        "doc_id",
        F.conv(F.substring("phash_bits", 1, 32), 2, 10).cast("long").alias("hi"),
        F.conv(F.substring("phash_bits", 33, 32), 2, 10).cast("long").alias("lo"),
    )


def _band_masks(off: int, w: int) -> tuple[int, int]:
    """(hi_mask, lo_mask) selecting string-bit positions [off, off+w) —
    position p lives at hi bit (31-p) when p < 32, else lo bit (63-p)."""
    hi = lo = 0
    for p in range(off, off + w):
        if p < 32:
            hi |= 1 << (31 - p)
        else:
            lo |= 1 << (63 - p)
    return hi, lo


def _band_key_col(off: int, w: int):
    """The integer value of string-bits [off, off+w) from (hi, lo) columns
    — the banded blocking key without materializing substrings."""
    if off + w <= 32:
        return F.shiftrightunsigned(F.col("hi"), 32 - off - w).bitwiseAND(
            F.lit((1 << w) - 1)
        )
    if off >= 32:
        return F.shiftrightunsigned(F.col("lo"), 64 - off - w).bitwiseAND(
            F.lit((1 << w) - 1)
        )
    w2 = off + w - 32  # band straddles the hi/lo split
    hi_part = F.col("hi").bitwiseAND(F.lit((1 << (32 - off)) - 1))
    lo_part = F.shiftrightunsigned(F.col("lo"), 32 - w2)
    return F.shiftleft(hi_part, w2).bitwiseOR(lo_part)


def _first_band_pairs(
    ph_ints: DataFrame, widths: list[int], offsets: list[int]
) -> DataFrame:
    """Distinct candidate pairs from a banded bucket join, each pair emitted
    EXACTLY once — at its first shared band (the multi-index-hashing dedup
    trick): a pair colliding in k bands would otherwise fan out k times and
    need a full-candidate-set ``dropDuplicates`` shuffle; instead each
    joined row checks, from the XOR halves alone, that no EARLIER band also
    matched, and keeps only the first.  Returns (doc_a, doc_b, xh, xl) with
    xh/xl the Hamming XOR halves, so callers verify distance by
    ``bit_count`` without re-reading the hashes."""
    banded = ph_ints.select(
        "doc_id",
        "hi",
        "lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        _band_key_col(offsets[j], widths[j]).alias("key"),
                    )
                    for j in range(len(widths))
                ]
            )
        ).alias("b"),
    ).select(
        "doc_id", "hi", "lo",
        F.col("b.band").alias("band"), F.col("b.key").alias("key"),
    )
    a = banded.select(
        "band", "key",
        F.col("doc_id").alias("doc_a"),
        F.col("hi").alias("ha"), F.col("lo").alias("la"),
    )
    b = banded.select(
        "band", "key",
        F.col("doc_id").alias("doc_b"),
        F.col("hi").alias("hb"), F.col("lo").alias("lb"),
    )
    xh = F.col("ha").bitwiseXOR(F.col("hb"))
    xl = F.col("la").bitwiseXOR(F.col("lb"))
    joined = (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "band", xh.alias("xh"), xl.alias("xl"))
    )
    # band j matched iff the XOR is zero under band j's mask; keep the row
    # only when its own band is the FIRST match
    first_eq = F.least(
        *[
            F.when(
                (
                    F.col("xh").bitwiseAND(F.lit(_band_masks(offsets[j], widths[j])[0]))
                    + F.col("xl").bitwiseAND(F.lit(_band_masks(offsets[j], widths[j])[1]))
                )
                == 0,
                F.lit(j),
            ).otherwise(F.lit(len(widths)))
            for j in range(len(widths))
        ]
    )
    return joined.filter(first_eq == F.col("band")).select(
        "doc_a", "doc_b", "xh", "xl"
    )


_PROD_WIDTHS = [64 // PHASH_BANDS] * PHASH_BANDS
_PROD_OFFSETS = [i * (64 // PHASH_BANDS) for i in range(PHASH_BANDS)]


def _phash_dupes_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    ph = _phash_ints(mm_image_phash(spark, sf_dir))
    pairs = _first_band_pairs(ph, _PROD_WIDTHS, _PROD_OFFSETS)
    hamming = (F.bit_count("xh") + F.bit_count("xl")).cast("int")
    return pairs.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= PHASH_MAX_HAMMING
    )


def _phash_bits_sql() -> str:
    """DuckDB mirror: gray_i = byte(3i+1)+byte(3i+2)+byte(3i+3) of the
    padded 192-char pixel string; bit i = gray_i*64 > total."""
    npix = PHASH_W * PHASH_H
    gray = (
        "list_transform(generate_series(0, {n} - 1), i -> "
        "unicode(substr(px, i * 3 + 1, 1)) + unicode(substr(px, i * 3 + 2, 1))"
        " + unicode(substr(px, i * 3 + 3, 1)))"
    ).format(n=npix)
    return (
        f"array_to_string(list_transform({gray}, "
        f"g -> CASE WHEN g * {npix} > list_sum({gray}) THEN '1' ELSE '0' END), '')"
    )


ORACLE["mm_image_phash"] = f"""
    WITH p AS (
      SELECT doc_id,
             substr(text || repeat(' ', {_PHASH_NPX}), 1, {_PHASH_NPX}) AS px
      FROM documents),
    h AS (SELECT doc_id, {_phash_bits_sql()} AS phash_bits FROM p)
    SELECT doc_id, phash_bits,
           CAST(len(phash_bits) - len(replace(phash_bits, '1', ''))
                AS INTEGER) AS n_ones
    FROM h
"""

_PHASH_BAND_W = 64 // PHASH_BANDS

ORACLE["mm_phash_dupes"] = f"""
    WITH p AS (
      SELECT doc_id,
             substr(text || repeat(' ', {_PHASH_NPX}), 1, {_PHASH_NPX}) AS px
      FROM documents),
    h AS (SELECT doc_id, {_phash_bits_sql()} AS phash_bits FROM p),
    bands AS (
      SELECT doc_id, phash_bits, b AS band,
             substr(phash_bits, b * {_PHASH_BAND_W} + 1, {_PHASH_BAND_W}) AS key
      FROM h, LATERAL unnest(generate_series(0, {PHASH_BANDS - 1})) AS t(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.phash_bits AS pa, b.phash_bits AS pb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(len(list_filter(generate_series(1, 64),
                i -> substr(pa, i, 1) <> substr(pb, i, 1))) AS INTEGER)
             AS hamming
    FROM cand
    WHERE len(list_filter(generate_series(1, 64),
          i -> substr(pa, i, 1) <> substr(pb, i, 1))) <= {PHASH_MAX_HAMMING}
"""

QUERIES["mm_image_phash"] = mm_image_phash
QUERIES["mm_phash_dupes"] = mm_phash_dupes


def mm_phash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-IMAGE clusters: connected components over the pHash
    near-dup pairs (component_id = min doc_id), composing the multimodal
    perceptual hash with the SAME two-tier component machinery the text
    dedup family uses (``dedup._components_over``: union-find at pair
    scale, distributed min-label above the threshold) — the image analog
    of ``dedup_components``, and the keep-one-per-cluster key an image
    corpus dedup writes."""
    from .dedup import _components_over

    pairs = mm_phash_dupes(spark, sf_dir).select("doc_a", "doc_b")
    return _components_over(spark, pairs).select("doc_id", "component_id")


ORACLE["mm_phash_components"] = f"""
    WITH RECURSIVE p AS (
      SELECT doc_id,
             substr(text || repeat(' ', {_PHASH_NPX}), 1, {_PHASH_NPX}) AS px
      FROM documents),
    h AS (SELECT doc_id, {_phash_bits_sql()} AS phash_bits FROM p),
    bands AS (
      SELECT doc_id, phash_bits, b AS band,
             substr(phash_bits, b * {_PHASH_BAND_W} + 1, {_PHASH_BAND_W}) AS key
      FROM h, LATERAL unnest(generate_series(0, {PHASH_BANDS - 1})) AS t(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.phash_bits AS pa, b.phash_bits AS pb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b FROM cand
      WHERE len(list_filter(generate_series(1, 64),
            i -> substr(pa, i, 1) <> substr(pb, i, 1))) <= {PHASH_MAX_HAMMING}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    cc AS (
      SELECT src AS doc_id, src AS label FROM edges
      UNION
      SELECT e.dst AS doc_id, c.label
      FROM cc c JOIN edges e ON c.doc_id = e.src
      WHERE c.label < e.dst
    )
    SELECT doc_id, min(label) AS component_id FROM cc GROUP BY doc_id
"""

QUERIES["mm_phash_components"] = mm_phash_components


# 7-band pigeonhole split of the 64-bit pHash: any pair with Hamming <=
# PHASH_MAX_HAMMING (= 6 = 7 - 1 errors) shares at least one EXACT band, so
# candidates from this split + exact verify are COMPLETE ground truth.
_TRUTH_BANDS = PHASH_MAX_HAMMING + 1
_TRUTH_WIDTHS = [
    64 // _TRUTH_BANDS + (1 if i < 64 % _TRUTH_BANDS else 0)
    for i in range(_TRUTH_BANDS)
]
_TRUTH_OFFSETS = [sum(_TRUTH_WIDTHS[:i]) for i in range(_TRUTH_BANDS)]


def eval_phash_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the production 4-band pHash candidate generator
    against EXACT Hamming<=6 ground truth — the acceptance gate before
    trusting the banding to dedup an image corpus (the image twin of
    ``dedup.eval_minhash_pr``).

    Ground truth is exact via the multi-index pigeonhole: 7 bands for a
    6-error radius guarantee every true pair shares one exact band, so
    truth = 7-band bucket join + Hamming verify.  Prediction = raw 4-band
    collisions BEFORE the Hamming verify (the stage whose error rate the
    4-band choice determines; 4 bands only GUARANTEE radius 3, so recall
    over radius 4-6 is exactly what this measures).  One row of integer
    counts + 1e6-scaled truncating-division precision/recall.

    Evaluation span (round 8): the truth index's 7 bands are only ~9 bits
    wide (the widest exact radius-6 banding 64 bits admits), i.e. 512
    buckets/band — chance collisions grow truth candidates ~7n^2/1024,
    and the round-8 pair-regime harness measured 4.9x wall for 8x rows at
    200k images.  Exact ground truth at that shape is inherent (radius-r
    banding has band width <= 64/(r+1)), so the GATE evaluates a
    deterministic hash-span sub-corpus of <= ~PHASH_EVAL_CAP images, the
    ``ANN_QUERY_SPAN`` pattern: span = ceil(n / cap) is derived from the
    corpus count identically in both engines (``count(*)`` in the
    oracle), recall estimates are per-pair properties (corpus-size
    independent), and fixture SFs (n <= 5000) keep span = 1 — the full
    corpus, bit-identical to the uncapped gate.  Re-measured: 1.1x wall
    for 8x rows (was 4.9x).
    """
    n = cached_count(spark, sf_dir, "documents")
    span = max(1, -(-n // PHASH_EVAL_CAP))
    ph = _phash_ints(mm_image_phash(spark, sf_dir)).filter(
        phash32(F.col("doc_id"), "pe") % span == 0
    )
    hamming = F.bit_count("xh") + F.bit_count("xl")

    truth = (
        _first_band_pairs(ph, _TRUTH_WIDTHS, _TRUTH_OFFSETS)
        .filter(hamming <= PHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", F.lit(True).alias("is_true"))
    )
    pred = _first_band_pairs(ph, _PROD_WIDTHS, _PROD_OFFSETS).select(
        "doc_a", "doc_b", F.lit(True).alias("is_pred")
    )
    joined = truth.join(pred, ["doc_a", "doc_b"], "full").select(
        F.coalesce("is_true", F.lit(False)).alias("is_true"),
        F.coalesce("is_pred", F.lit(False)).alias("is_pred"),
    )
    return joined.agg(
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).cast("long").alias("n_truth"),
        F.sum(F.when(F.col("is_pred"), 1).otherwise(0)).cast("long").alias("n_pred"),
        F.sum(F.when(F.col("is_true") & F.col("is_pred"), 1).otherwise(0))
        .cast("long").alias("tp"),
        F.sum(F.when(F.col("is_pred") & ~F.col("is_true"), 1).otherwise(0))
        .cast("long").alias("fp"),
        F.sum(F.when(F.col("is_true") & ~F.col("is_pred"), 1).otherwise(0))
        .cast("long").alias("fn"),
        F.expr(
            "(sum(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END) * 1000000)"
            " div nullif(sum(CASE WHEN is_pred THEN 1 ELSE 0 END), 0)"
        ).cast("long").alias("precision_ppm"),
        F.expr(
            "(sum(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END) * 1000000)"
            " div nullif(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0)"
        ).cast("long").alias("recall_ppm"),
    )


def _truth_bands_sql() -> str:
    rows = ", ".join(
        f"({i}, {_TRUTH_OFFSETS[i] + 1}, {_TRUTH_WIDTHS[i]})"
        for i in range(_TRUTH_BANDS)
    )
    return rows


ORACLE["eval_phash_pr"] = f"""
    WITH sp AS (
      SELECT greatest(1, (count(*) + {PHASH_EVAL_CAP} - 1)
                         // {PHASH_EVAL_CAP}) AS s
      FROM documents),
    p AS (
      SELECT doc_id,
             substr(text || repeat(' ', {_PHASH_NPX}), 1, {_PHASH_NPX}) AS px
      FROM documents, sp
      WHERE {phash32_sql("doc_id::VARCHAR", "pe")} % sp.s = 0),
    h AS (SELECT doc_id, {_phash_bits_sql()} AS phash_bits FROM p),
    tb AS (
      SELECT doc_id, phash_bits, s.band, substr(phash_bits, s.off, s.w) AS key
      FROM h, LATERAL (VALUES {_truth_bands_sql()}) AS s(band, off, w)),
    tcand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.phash_bits AS pa, b.phash_bits AS pb
      FROM tb a JOIN tb b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    truth AS (
      SELECT doc_a, doc_b FROM tcand
      WHERE len(list_filter(generate_series(1, 64),
            i -> substr(pa, i, 1) <> substr(pb, i, 1))) <= {PHASH_MAX_HAMMING}),
    pb4 AS (
      SELECT doc_id, b AS band,
             substr(phash_bits, b * {_PHASH_BAND_W} + 1, {_PHASH_BAND_W}) AS key
      FROM h, LATERAL unnest(generate_series(0, {PHASH_BANDS - 1})) AS t(b)),
    pred AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pb4 a JOIN pb4 b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    j AS (
      SELECT coalesce(t.is_true, FALSE) AS is_true,
             coalesce(pr.is_pred, FALSE) AS is_pred
      FROM (SELECT doc_a, doc_b, TRUE AS is_true FROM truth) t
      FULL JOIN (SELECT doc_a, doc_b, TRUE AS is_pred FROM pred) pr
        USING (doc_a, doc_b))
    SELECT sum(CASE WHEN is_true THEN 1 ELSE 0 END)::BIGINT AS n_truth,
           sum(CASE WHEN is_pred THEN 1 ELSE 0 END)::BIGINT AS n_pred,
           sum(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END)::BIGINT AS tp,
           sum(CASE WHEN is_pred AND NOT is_true THEN 1 ELSE 0 END)::BIGINT AS fp,
           sum(CASE WHEN is_true AND NOT is_pred THEN 1 ELSE 0 END)::BIGINT AS fn,
           ((sum(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END) * 1000000)
             // nullif(sum(CASE WHEN is_pred THEN 1 ELSE 0 END), 0))::BIGINT
             AS precision_ppm,
           ((sum(CASE WHEN is_true AND is_pred THEN 1 ELSE 0 END) * 1000000)
             // nullif(sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0))::BIGINT
             AS recall_ppm
    FROM j
"""

QUERIES["eval_phash_pr"] = eval_phash_pr
