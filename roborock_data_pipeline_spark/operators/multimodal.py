"""Multimodal columns (SURVEY sec 2.K L5 -- EXT).

Treatment of image/audio/video at 100 TB: the payload is an opaque
`binary` column travelling next to a typed metadata struct; decode /
feature-extraction runs as Arrow-batched Pandas functions via
`mapInPandas` (per-partition batch iterator -- the only part of the
engine allowed off the JVM, because codec work is genuinely Python).

The container has no image/audio codecs, so the queries default to
a deterministic fake (byte statistics, strided resample) that keeps
the Spark-side plumbing -- schema, batch iteration, partitioning --
real and tested end to end. The real-codec slot is `resize_image`:
Pillow when installed, else the stdlib gray8-PNG decoder
`_decode_png_gray8`; anything else raises NotImplementedError.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from roborock_data_pipeline_spark.functions.cache_tracking import track
from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load

# Typed metadata carried beside every blob.
MEDIA_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("media", T.BinaryType(), False),
    T.StructField("meta", T.StructType([
        T.StructField("format", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("lang", T.StringType(), True),
    ]), False),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("format", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("feat_mean", T.DoubleType(), False),
    T.StructField("feat_head", T.DoubleType(), False),
])


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-blob table synthesized from documents.text (the stand-in
    payload): binary column + typed metadata struct."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("media"),
        F.struct(
            F.lit("text/plain").alias("format"),
            F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


def _decode_png_gray8(blob: bytes) -> tuple[int, int, bytes] | None:
    """Stdlib decoder for 8-bit GRAYSCALE non-interlaced PNG (VERDICT
    r5 #2): parse IHDR/IDAT chunks, zlib-inflate, undo all five PNG
    row filters (None/Sub/Up/Average/Paeth, bpp=1). Returns
    (width, height, pixels row-major) or None if the blob is not a
    PNG of exactly this shape -- the caller falls back to Pillow (or
    raises). This is NOT a general codec; it exists so the real-codec
    slot's contract executes in codec-free environments instead of
    permanently skipping."""
    import struct
    import zlib

    if len(blob) < 8 or blob[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, w = 8, None
    idat = b""
    try:
        while pos + 8 <= len(blob):
            (length,), typ = struct.unpack(">I", blob[pos:pos + 4]), \
                blob[pos + 4:pos + 8]
            data = blob[pos + 8:pos + 8 + length]
            pos += 12 + length
            if typ == b"IHDR":
                w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
                if depth != 8 or ctype != 0 or interlace != 0 \
                        or w == 0 or h == 0:
                    return None  # only 8-bit gray, non-interlaced
            elif typ == b"IDAT":
                idat += data
            elif typ == b"IEND":
                break
        if w is None or not idat:
            return None
        raw = zlib.decompress(idat)
    except (struct.error, zlib.error):
        return None
    stride = w + 1  # 1 filter byte per row, bpp=1 for gray8
    if len(raw) < stride * h:
        return None
    out = bytearray(w * h)
    prev = bytes(w)
    for r in range(h):
        row = bytearray(raw[r * stride + 1:(r + 1) * stride])
        ftype = raw[r * stride]
        if ftype == 1:  # Sub
            for i in range(1, w):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(w):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(w):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(w):
                a = row[i - 1] if i else 0
                b, c = prev[i], (prev[i - 1] if i else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            return None
        out[r * w:(r + 1) * w] = row
        prev = row
    return w, h, bytes(out)


def resize_image(blob: bytes, width: int, height: int) -> bytes:
    """L5 image op, real-codec path (VERDICT r4 #7): grayscale +
    nearest-neighbor resize to exactly width*height bytes -- the
    classic aHash prologue. Pillow when installed; otherwise the
    stdlib gray8-PNG fallback (VERDICT r5 #2) with Pillow's NEAREST
    center-sampling semantics -- source index floor((i+0.5)*m/n),
    computed in exact integer arithmetic -- so both paths are
    byte-identical on the shapes the fallback supports (pinned by
    test_multimodal's real-codec test, which asserts against
    independently computed pixels AND against Pillow when present).
    Unsupported payloads raise NotImplementedError naming Pillow.
    The Spark-side call pattern is mapInPandas over (media, meta)
    batches, identical to _extract_features."""
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]
    except ImportError:
        decoded = _decode_png_gray8(blob)
        if decoded is None:
            raise NotImplementedError(
                "no codec for this image payload -- the stdlib fallback "
                "handles 8-bit grayscale PNG only; install Pillow for "
                "the general resize path"
            ) from None
        src_w, src_h, px = decoded
        out = bytearray(width * height)
        for r in range(height):
            sr = ((2 * r + 1) * src_h) // (2 * height)
            base = min(sr, src_h - 1) * src_w
            for c in range(width):
                sc = ((2 * c + 1) * src_w) // (2 * width)
                out[r * width + c] = px[base + min(sc, src_w - 1)]
        return bytes(out)
    img = Image.open(io.BytesIO(blob)).convert("L").resize(
        (width, height), Image.NEAREST
    )
    return img.tobytes()


def sample_frames(blob: bytes, every_n: int = 30) -> list[bytes]:
    """STUB (L5 video op). Real impl: av.open(io.BytesIO(blob)) and
    keep every Nth decoded frame. Output schema is
    ARRAY<BINARY> + frame metadata struct per row."""
    raise NotImplementedError("video codec not available in this environment")


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batch in -> feature frame out.

    The fake decode is vectorized with numpy inside the batch (the
    shape real decoders take: batch of blobs in, matrix of features
    out) -- not a per-row Python loop."""
    import numpy as np

    for pdf in batches:
        means = np.array(
            [np.frombuffer(m, dtype=np.uint8).mean() if len(m) else 0.0
             for m in pdf["media"]]
        )
        heads = np.array(
            [float(m[0]) if len(m) else 0.0 for m in pdf["media"]]
        )
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "format": pdf["fmt"],
            "n_bytes": pdf["n_bytes"],
            # no rounding: integer-sum / count is bit-identical across
            # engines, while Python round() (banker's) disagrees with
            # SQL ROUND (half-away) on exact ties.
            "feat_mean": means,
            "feat_head": heads,
        })


@query(
    "q_multimodal_features",
    oracle="""
    SELECT doc_id,
           'text/plain' AS format,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CASE WHEN strlen(text) = 0 THEN 0.0
                ELSE list_aggregate(list_transform(range(1, strlen(text) + 1),
                          i -> CAST(ascii(array_extract(text, i)) AS DOUBLE)), 'sum')
                     / strlen(text) END AS feat_mean,
           CASE WHEN strlen(text) = 0 THEN 0.0
                ELSE CAST(ascii(array_extract(text, 1)) AS DOUBLE)
           END AS feat_head
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: binary-column feature extraction through the real
    mapInPandas plumbing (Arrow batches, pinned output schema). The
    deterministic fake decoder makes this oracle-checkable: byte mean
    == ascii mean for utf-8 text payloads."""
    from roborock_data_pipeline_spark.sources.tables import spread

    media = spread(media_table(spark, sf_dir)).select(
        "doc_id",
        "media",
        F.col("meta.format").alias("fmt"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    return media.mapInPandas(_extract_features, schema=FEATURE_SCHEMA)


@query(
    "q_media_metadata",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_media,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes
    FROM documents
    GROUP BY lang
    """,
)
def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: metadata-only scan -- aggregating the typed struct without
    ever touching the blob. At 100 TB this is the crucial access
    pattern: parquet column pruning means the multi-GB binary column
    is never read."""
    media = media_table(spark, sf_dir)
    return media.groupBy(F.col("meta.lang").alias("lang")).agg(
        F.count("*").alias("n_media"),
        F.sum("meta.n_bytes").alias("total_bytes"),
        F.max("meta.n_bytes").alias("max_bytes"),
    )


RESIZE_W, RESIZE_H = 8, 8  # fake-resize target (w*h output bytes)
FRAME_CHUNK = 64  # bytes per synthetic "frame"
FRAME_EVERY_N = 3  # keep every Nth frame


def resize_media(df: DataFrame, width: int, height: int,
                 *, fake: bool = True) -> DataFrame:
    """L5 image-op plumbing, real end to end: Arrow batches of
    (doc_id, media, fmt) in -> (doc_id, media, width, height) out,
    with `media` resized to exactly width*height bytes.

    The fake path (codec-free container) is a deterministic strided
    byte resample -- index i reads source byte (i*len)//(w*h), the
    nearest-neighbor downsample a real resizer performs per channel --
    so the batch shape, schema, and vectorization are exactly what a
    PIL-backed implementation drops into (see resize_image for the
    gated real path)."""
    import numpy as np

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
    ])
    n_out = width * height

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for m in pdf["media"]:
                if fake:
                    src = np.frombuffer(m, dtype=np.uint8)
                    if len(src) == 0:
                        # nothing to resample from -- empty out (ADVICE
                        # r3: zero-filled padding diverged from the
                        # oracle's md5 over an empty selection)
                        out.append(b"")
                        continue
                    idx = (np.arange(n_out, dtype=np.int64) * len(src)) // n_out
                    out.append(src[idx].tobytes())
                else:  # pragma: no cover - codec not in this container
                    out.append(resize_image(bytes(m), width, height))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media": out,
                "width": np.full(len(pdf), width, dtype="int32"),
                "height": np.full(len(pdf), height, dtype="int32"),
            })

    return df.select("doc_id", "media").mapInPandas(_resize, schema=out_schema)


def sample_media_frames(df: DataFrame, chunk: int = FRAME_CHUNK,
                        every_n: int = FRAME_EVERY_N,
                        *, fake: bool = True) -> DataFrame:
    """L5 video-op plumbing, real end to end: one input blob explodes
    into multiple frame rows -- (doc_id, frame_idx, frame) -- keeping
    every Nth fixed-size chunk. This is the row-expanding mapInPandas
    shape a real av-backed frame sampler uses (decode -> keep every
    Nth frame); the fake treats the byte stream as the frame sequence
    (frame k = bytes [k*chunk, (k+1)*chunk))."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ])

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, m in zip(pdf["doc_id"], pdf["media"]):
                if not fake:  # pragma: no cover - codec not in container
                    for k, fr in enumerate(sample_frames(bytes(m), every_n)):
                        ids.append(doc_id); idxs.append(k); frames.append(fr)
                    continue
                b = bytes(m)
                # empty media -> zero frames (a real demuxer yields no
                # frames from an empty stream; ADVICE r3 -- the oracle's
                # range(0, ceil(len/chunk)) agrees)
                n_chunks = (len(b) + chunk - 1) // chunk
                for k in range(0, n_chunks, every_n):
                    ids.append(doc_id)
                    idxs.append(k)
                    frames.append(b[k * chunk:(k + 1) * chunk])
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return df.select("doc_id", "media").mapInPandas(_frames, schema=out_schema)


@query(
    "q_media_resize",
    oracle=f"""
    SELECT doc_id,
           CAST(CASE WHEN length(text) = 0 THEN 0
                     ELSE {RESIZE_W * RESIZE_H} END AS BIGINT) AS n_bytes,
           md5(CASE WHEN length(text) = 0 THEN ''
               ELSE array_to_string(list_transform(
                   range(0, {RESIZE_W * RESIZE_H}),
                   i -> array_extract(text,
                        CAST((i * length(text)) // {RESIZE_W * RESIZE_H} AS INT) + 1)
               ), '') END) AS resized_md5
    FROM documents
    """,
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: resize through the real mapInPandas plumbing; the
    deterministic nearest-neighbor fake makes it oracle-checkable
    (strided byte selection == strided char selection on ascii
    payloads). Digest + size computed JVM-side on the binary
    output. NOTE: this oracle indexes CHARACTERS of `text` while the
    engine strides BYTES of its utf-8 encoding -- equivalent only on
    an ASCII corpus (which the synthetic documents table is; the
    byte-true oracle pattern, hex-pair extraction over encode(text),
    is used by q_media_ahash / q_media_near_dup)."""
    resized = resize_media(
        media_table(spark, sf_dir), RESIZE_W, RESIZE_H
    )
    return resized.select(
        "doc_id",
        F.octet_length("media").cast("long").alias("n_bytes"),
        F.md5("media").alias("resized_md5"),
    )


@query(
    "q_media_frames",
    oracle=f"""
    WITH k AS (
        SELECT doc_id, text,
               unnest(list_filter(
                   range(0, CAST(ceil(length(text) / {FRAME_CHUNK}.0) AS INT)),
                   k -> k % {FRAME_EVERY_N} = 0)) AS frame_idx
        FROM documents
    )
    SELECT doc_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(length(substring(text, frame_idx * {FRAME_CHUNK} + 1,
                                 {FRAME_CHUNK})) AS BIGINT) AS frame_len,
           md5(substring(text, frame_idx * {FRAME_CHUNK} + 1, {FRAME_CHUNK}))
               AS frame_md5
    FROM k
    """,
)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: frame sampling through the real row-expanding mapInPandas
    plumbing (every 3rd 64-byte chunk); digests JVM-side. At 100 TB
    the frame explosion is map-only -- no shuffle until a downstream
    aggregate -- and the blob column never leaves the stage."""
    frames = sample_media_frames(media_table(spark, sf_dir))
    return frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame").cast("long").alias("frame_len"),
        F.md5("frame").alias("frame_md5"),
    )


# Banding geometry for the 64-bit aHash: 8 bands x 8 bits. Pigeonhole
# GUARANTEES recall for hamming <= 7 (7 differing bits cannot dirty all
# 8 bands); 8-12 is probabilistic and property-tested >=95% recall on
# uniformly-scattered perturbations (test_multimodal.py) -- real image
# edits cluster their differences, which banding catches even better.
# (VERDICT r4 #4: the previous 4x16 geometry guaranteed only <=3.)
AHASH_BANDS = 8
AHASH_BAND_BITS = 8


def ahash_fingerprints(media: DataFrame, *, fake: bool = True) -> DataFrame:
    """(doc_id, media, ...) -> (doc_id, ahash): 64-bit average-hash per
    blob. Real aHash grayscales + resizes to 8x8 then thresholds each
    pixel against the mean; here the resize is the engine's fake-codec
    strided resample (the same mapInPandas slot a PIL grayscale+resize
    drops into), and the threshold/bit-packing runs JVM-side.

    Byte extraction is hex()+conv() directly on the BINARY column
    (ADVICE r4: the previous UTF-8 decode round-trip silently
    diverged on non-ASCII payloads -- multibyte sequences split by the
    strided resample decode to U+FFFD; this path is byte-true for any
    blob). The mean is hoisted via aggregate()'s finish lambda: the
    fold result (byte sum) binds ONCE and each bit compares
    `x*64 > sum` -- the integer-exact form of `x > mean` -- instead of
    re-evaluating a 64-element aggregate per bit (VERDICT r4:
    projection collapse had inlined mu -> O(64^2)/row).

    ``fake=False`` routes the resize through the real codec slot
    (PIL grayscale+resize, import-gated) -- everything downstream of
    the kernel is identical either way, so the hash math is too.

    r15 (guide sec 7.2 duplicated subtrees): the resize kernel now
    emits the 64 pixel VALUES as an int array instead of a binary
    blob the JVM re-parsed. The old hex()+conv()-per-byte extraction
    was an interpreted 64-element HOF that appeared TWICE in the
    projection (once under the byte-sum fold, once under the
    threshold transform -- HOF lambdas sit outside codegen's common-
    subexpression elimination), so every blob was hex-decoded 128
    times per row. The kernel already holds the resampled numpy
    array; shipping ints is the same bytes, one Arrow column wider,
    zero extra passes. Measured (interleaved 6-cycle A/B, sf0.1):
    q_media_ahash med 0.974 -> 0.857 s; outputs bit-identical x3 SFs
    (the empty-blob filter moves into the kernel: empty sources
    yield no row, exactly the old length>0 filter)."""
    import numpy as np

    from roborock_data_pipeline_spark.sources.tables import spread

    n_out = RESIZE_W * RESIZE_H
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("vals", T.ArrayType(T.IntegerType()), False),
    ])

    def _resize_vals(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, out = [], []
            for doc_id, m in zip(pdf["doc_id"], pdf["media"]):
                if fake:
                    src = np.frombuffer(m, dtype=np.uint8)
                    if len(src) == 0:
                        continue  # a real decoder yields nothing
                    idx = (
                        np.arange(n_out, dtype=np.int64) * len(src)
                    ) // n_out
                    vals = src[idx].astype("int32")
                else:  # pragma: no cover - codec not in this container
                    b = resize_image(bytes(m), RESIZE_W, RESIZE_H)
                    if len(b) == 0:
                        continue
                    vals = np.frombuffer(b, dtype=np.uint8).astype("int32")
                ids.append(doc_id)
                out.append(vals)
            yield pd.DataFrame({"doc_id": ids, "vals": out})

    # codec work is the dominant per-row cost: widen single-split
    # scans to every core before the MapInPandas stage (no-op on
    # multi-split 100 TB inputs -- spread() gates on input files)
    resized = (
        spread(media)
        .select("doc_id", "media")
        .mapInPandas(_resize_vals, schema=out_schema)
    )
    vals = F.col("vals")
    ahash = F.aggregate(
        vals,
        F.lit(0),
        lambda acc, x: acc + x,
        lambda total: F.array_join(
            F.transform(
                vals, lambda x: F.when(x * 64 > total, "1").otherwise("0")
            ),
            "",
        ),
    )
    return resized.select("doc_id", ahash.alias("ahash"))


@query(
    "q_media_ahash",
    oracle="""
    WITH r AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE octet_length(encode(text)) > 0
    ),
    v AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                   i -> ('0x' || substring(hx,
                             CAST((i * n) // 64 AS INT) * 2 + 1, 2))::INT)
                   AS vals
        FROM r
    ),
    h AS (
        SELECT doc_id, vals, list_aggregate(vals, 'sum') AS s FROM v
    ),
    a AS (
        SELECT doc_id,
               array_to_string(list_transform(vals,
                   x -> CASE WHEN x * 64 > s THEN '1' ELSE '0' END), '')
                   AS ahash
        FROM h
    )
    SELECT doc_id, ahash,
           substr(ahash, 1, 8) AS band0,
           substr(ahash, 9, 8) AS band1,
           substr(ahash, 17, 8) AS band2,
           substr(ahash, 25, 8) AS band3,
           substr(ahash, 33, 8) AS band4,
           substr(ahash, 41, 8) AS band5,
           substr(ahash, 49, 8) AS band6,
           substr(ahash, 57, 8) AS band7,
           COUNT(*) OVER (PARTITION BY ahash) AS n_same_hash
    FROM a
    """,
)
def q_media_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 media dedup: aHash fingerprint per blob (see
    ahash_fingerprints), shipped with its eight 8-bit bands -- the
    SimHash banding trick applied to media: exact dedup groups by the
    full hash (`n_same_hash` counts the group inline); near-dup
    candidates block on any matching band and verify hamming inside
    the block, never all-pairs. The oracle is byte-true (hex-pair
    extraction over encode(text)), matching the engine's binary path
    on any payload, ASCII or not. One window exchange on the 64-char
    hash; everything before it is map-side."""
    from pyspark.sql import Window as W

    fp = ahash_fingerprints(media_table(spark, sf_dir))
    bands = [
        F.substring("ahash", i * AHASH_BAND_BITS + 1, AHASH_BAND_BITS)
        .alias(f"band{i}")
        for i in range(AHASH_BANDS)
    ]
    return fp.select(
        "doc_id",
        "ahash",
        *bands,
        F.count("*").over(W.partitionBy("ahash")).alias("n_same_hash"),
    )


def media_near_dup_pairs(
    fp: DataFrame, max_hamming: int = 12, probe_bands: int = 2
) -> DataFrame:
    """(doc_id, ahash) fingerprints -> near-dup pairs: block on any of
    the eight 8-bit bands -- the first ``probe_bands`` of them probed
    at radius 1 -- then verify exact hamming <= max_hamming inside the
    candidate set.

    RADIUS-1 MULTI-PROBE on the first two bands (r10, VERDICT r9 #5):
    the probe side emits those bands' values plus their eight one-bit
    variants, so a pair collides there when the band differs by <= 1
    bit instead of 0. Exact recall math on the worst (uniform-spread)
    perturbation profile -- h dirty bits uniform over 64, miss iff
    every band is dirty AND both probed bands have >= 2 dirty bits:
    P(miss) at h=10/11/12 = 0.14%/0.69%/1.99% (vs 4.4%/8.7%/14.3%
    plain -- the r9-measured 0.88 sf1 recall), so >= 98% recall at the
    full advertised radius even with uniformly-scattered differences;
    clustered real-image edits do better still, and h <= 7 stays
    pigeonhole-lossless. Candidate cost is (8 + 2*8)/8 = 3x band
    keys on the probe side ONLY -- far from the guaranteed variant's
    9x-both-sides (13.6x wall at sf1), and the fingerprint stage
    (the real cost) is untouched.

    Physical representation is PACKED INTEGERS, not bit arrays: band
    keys are 8-bit ints (conv base-2) and the 64-bit hash travels as
    two 32-bit halves, so the hamming verify is two bit_count(XOR)
    instructions in whole-stage codegen instead of a 64-element
    zip_with/aggregate, and the dedup exchange hashes 2 longs + a
    long, never two 64-element arrays. Because the verify is ~free,
    it runs BEFORE the distinct (a pair re-verified once per shared
    band costs 2 instructions; shuffling every unverified candidate
    into a distinct costs a 64-byte exchange row) -- on any corpus the
    overwhelming majority of band collisions fail the radius filter,
    so the exchange sees only true near-dups. Same final pair set
    either way (hamming is a function of the pair).

    Candidate work is sum|band-bucket|^2: an 8-bit band has only 256
    values, so on a pathological corpus of uniformly-random hashes
    buckets grow as N/256 per band -- the price of the pigeonhole
    recall guarantee (7 dirty bits cannot touch all 8 bands). Real
    media corpora cluster their hashes (near-identical images, flat
    frames), concentrating bucket mass on true duplicate groups.

    The caller is responsible for materializing `fp` (persist /
    checkpoint) -- Catalyst does NOT reuse the fingerprint subtree
    across the aliased self-join sides, and the codec/resize stage is
    the dominant cost of any real media pipeline (VERDICT r4 #1; same
    lesson as dedup.py's persisted shingle postings)."""
    banded = fp.select(
        "doc_id",
        F.conv(F.substring("ahash", 1, 32), 2, 10).cast("long").alias("hi"),
        F.conv(F.substring("ahash", 33, 32), 2, 10).cast("long").alias("lo"),
        F.posexplode(
            F.array(*[
                F.conv(
                    F.substring(
                        "ahash", i * AHASH_BAND_BITS + 1, AHASH_BAND_BITS
                    ),
                    2, 10,
                ).cast("int")
                for i in range(AHASH_BANDS)
            ])
        ).alias("band_idx", "band"),
    )
    # probe side: first `probe_bands` bands also emit their radius-1
    # variants (band XOR 2^j); x-variant == y-exact <=> the bands
    # differ by <= 1 bit. Build side stays single-key, so candidate
    # growth is probe-side keys only.
    probe = banded.withColumn(
        "band",
        F.explode(
            F.when(
                F.col("band_idx") < F.lit(probe_bands),
                F.array(
                    F.col("band"),
                    *[
                        F.col("band").bitwiseXOR(F.lit(1 << j))
                        for j in range(AHASH_BAND_BITS)
                    ],
                ),
            ).otherwise(F.array(F.col("band")))
        ),
    )
    x, y = probe.alias("x"), banded.alias("y")
    hamming = (
        F.bit_count(F.col("x.hi").bitwiseXOR(F.col("y.hi")))
        + F.bit_count(F.col("x.lo").bitwiseXOR(F.col("y.lo")))
    ).cast("long")
    return (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band") == F.col("y.band"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .where(hamming <= max_hamming)
        .select(
            F.col("x.doc_id").alias("doc_id_1"),
            F.col("y.doc_id").alias("doc_id_2"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def media_near_dup_pairs_guaranteed(
    fp: DataFrame, max_hamming: int = 12
) -> DataFrame:
    """Multi-probe variant of media_near_dup_pairs with a RECALL
    GUARANTEE covering the full advertised radius: the probe side
    emits, per band, the band value plus its eight radius-1 variants
    (band XOR 2^i), so a pair collides iff SOME band differs by <=1
    bit. Pigeonhole: 8 bands x 2 = 16 > 15, so every pair at hamming
    <= 15 >= max_hamming=12 is guaranteed a collision -- banding becomes
    semantically invisible and the result EQUALS exact all-pairs
    hamming <= 12 (which is why q_media_near_dup_guaranteed can carry
    a brute-force oracle that knows nothing about bands).

    Cost vs the probabilistic path: 9x probe keys (72/doc) and ~9x
    band-collision candidates on a worst-case uniformly-random
    corpus -- the classic multi-index-hashing trade (Norouzi et al.):
    probes buy guarantee. The verify stays two bit_count instructions,
    so candidates are cheap; pick this path when a missed duplicate
    costs more than the probe fan-out (e.g. copyright/compliance
    dedup), the default path when throughput wins."""
    bands = [
        F.conv(
            F.substring("ahash", i * AHASH_BAND_BITS + 1, AHASH_BAND_BITS),
            2, 10,
        ).cast("int")
        for i in range(AHASH_BANDS)
    ]
    base = fp.select(
        "doc_id",
        F.conv(F.substring("ahash", 1, 32), 2, 10).cast("long").alias("hi"),
        F.conv(F.substring("ahash", 33, 32), 2, 10).cast("long").alias("lo"),
        F.posexplode(F.array(*bands)).alias("band_idx", "band"),
    )
    masks = F.array(*[F.lit(m) for m in [0] + [1 << i for i in range(8)]])
    probes = base.select(
        "doc_id", "hi", "lo", "band_idx",
        F.explode(
            F.transform(masks, lambda m: F.col("band").bitwiseXOR(m))
        ).alias("band"),
    )
    x, y = probes.alias("x"), base.alias("y")
    hamming = (
        F.bit_count(F.col("x.hi").bitwiseXOR(F.col("y.hi")))
        + F.bit_count(F.col("x.lo").bitwiseXOR(F.col("y.lo")))
    ).cast("long")
    return (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band") == F.col("y.band"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .where(hamming <= max_hamming)
        .select(
            F.col("x.doc_id").alias("doc_id_1"),
            F.col("y.doc_id").alias("doc_id_2"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


@query(
    "q_media_near_dup_guaranteed",
    oracle="""
    WITH r AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE octet_length(encode(text)) > 0
    ),
    v AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                   i -> ('0x' || substring(hx,
                             CAST((i * n) // 64 AS INT) * 2 + 1, 2))::INT)
                   AS vals
        FROM r
    ),
    h AS (
        SELECT doc_id, vals, list_aggregate(vals, 'sum') AS s FROM v
    ),
    a AS (
        SELECT doc_id,
               list_transform(vals,
                   x -> CASE WHEN x * 64 > s THEN 1 ELSE 0 END) AS bits
        FROM h
    )
    SELECT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2,
           CAST(list_aggregate(list_transform(
                    list_zip(x.bits, y.bits),
                    p -> CASE WHEN p[1] <> p[2] THEN 1 ELSE 0 END),
                'sum') AS BIGINT) AS hamming
    FROM a x JOIN a y ON x.doc_id < y.doc_id
    WHERE list_aggregate(list_transform(list_zip(x.bits, y.bits),
              p -> CASE WHEN p[1] <> p[2] THEN 1 ELSE 0 END), 'sum') <= 12
    """,
)
def q_media_near_dup_guaranteed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 media near-dup, guaranteed-recall mode: radius-1 multi-probe
    banding whose result PROVABLY equals exact all-pairs hamming <= 12
    (see media_near_dup_pairs_guaranteed) -- and the oracle is exactly
    that: a brute-force all-pairs join that knows nothing about bands,
    so the hash check verifies the guarantee itself, not just an
    agreed approximation. The engine side still never goes all-pairs:
    candidate work is sum|probe-bucket| collisions, 9x the probabilistic
    path's keys."""
    fp = track(ahash_fingerprints(media_table(spark, sf_dir)).persist())
    return media_near_dup_pairs_guaranteed(fp)


@query(
    "q_media_near_dup",
    oracle="""
    WITH r AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE octet_length(encode(text)) > 0
    ),
    v AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                   i -> ('0x' || substring(hx,
                             CAST((i * n) // 64 AS INT) * 2 + 1, 2))::INT)
                   AS vals
        FROM r
    ),
    h AS (
        SELECT doc_id, vals, list_aggregate(vals, 'sum') AS s FROM v
    ),
    a AS (
        SELECT doc_id,
               list_transform(vals,
                   x -> CASE WHEN x * 64 > s THEN 1 ELSE 0 END) AS bits
        FROM h
    ),
    bands AS (
        SELECT doc_id, bits, i AS band_idx,
               list_aggregate(list_transform(generate_series(1, 8),
                   k -> bits[i * 8 + k] * (1 << (k - 1))), 'sum')
                   AS band_val
        FROM a, UNNEST(generate_series(0, 7)) AS t(i)
    ),
    probes AS (
        -- radius-1 multi-probe mirror: the first two bands also emit
        -- their eight one-bit variants on the probe side
        SELECT doc_id, bits, band_idx,
               CASE WHEN j = -1 THEN band_val
                    ELSE xor(band_val, 1 << j) END AS band_val
        FROM bands, UNNEST(generate_series(-1, 7)) AS tj(j)
        WHERE j = -1 OR band_idx < 2
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_id_1, y.doc_id AS doc_id_2,
               x.bits AS bits1, y.bits AS bits2
        FROM probes x JOIN bands y
          ON x.band_idx = y.band_idx AND x.band_val = y.band_val
         AND x.doc_id < y.doc_id
    )
    SELECT doc_id_1, doc_id_2,
           CAST(list_aggregate(list_transform(
                    list_zip(bits1, bits2),
                    p -> CASE WHEN p[1] <> p[2] THEN 1 ELSE 0 END),
                'sum') AS BIGINT) AS hamming
    FROM cand
    WHERE list_aggregate(list_transform(list_zip(bits1, bits2),
              p -> CASE WHEN p[1] <> p[2] THEN 1 ELSE 0 END), 'sum') <= 12
    """,
)
def q_media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 media near-dup pairs over the documents-backed media table.
    Recall is GUARANTEED to hamming <= 7 (pigeonhole over 8 bands of
    8 bits: 7 differing bits cannot dirty all 8 bands) and, with the
    r10 radius-1 multi-probe on the first two bands, >= 98% by exact
    combinatorics across the advertised 4-12 radius even for
    uniformly-scattered perturbations (the worst profile -- see
    media_near_dup_pairs; property-tested in test_multimodal.py) --
    real image edits (crop edge, watermark, re-encode artifact)
    cluster their differences, which banding catches better still.

    The fingerprint frame is PERSISTED before the band self-join so
    the codec/resize MapInPandas stage physically runs ONCE -- without
    it Catalyst plans two full fingerprint subtrees, one per aliased
    join side (VERDICT r4: the double decode was the slowest bench
    query). The persisted frame is (doc_id, 64-char string) -- tiny
    relative to the blobs it summarizes.

    On THIS corpus the result is deliberately empty: synthetic word
    soup gives near-uniform 64-bit hashes (pairwise hamming ~32), so
    zero pairs pass -- verified empty-vs-empty against the oracle; the
    recall property test pins non-empty behavior on actual perturbed
    duplicates.

    Recall history: r9 measured 0.88 on sf1's Caesar-rotation twins
    (uniformly-spread differences concentrated at hamming 8-12 --
    P(no clean band) ~ 14% at h=12 with plain banding). The r10
    two-band radius-1 multi-probe cuts the worst-case miss to 2.0%
    at h=12 (0.69% at h=11, 0.14% at h=10 -- exact combinatorics in
    media_near_dup_pairs) at 3x probe-side band keys; re-measured on
    the same sf1 exact set >= 0.95 (scripts/sf1_quadratic_parity.py).
    The <=7 radius stays lossless by pigeonhole. When a recall SLA
    must be EXACT over the full 12 radius, use
    q_media_near_dup_guaranteed."""
    fp = track(ahash_fingerprints(media_table(spark, sf_dir)).persist())
    return media_near_dup_pairs(fp)
