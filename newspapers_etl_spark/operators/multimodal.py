"""Multimodal columns: nested-JSON manifest source (S2), binary payload
metadata (S3/S4), and decode operators running REAL codecs.

The reference's multimodal surface is the IIIF manifest → JP2 image
pipeline: fetch deeply nested JSON (4 levels of ``items``, then
``body.id`` — reference src/01-scrape-images.py:319-351), stream binary
page images (src/01-scrape-images.py:353-385), verify MD5 end-to-end
(src/01-scrape-images.py:78-83,126-131), and classify MIME by extension
(src/01-scrape-images.py:110-116).

Spark-first re-expression:
- Manifests are ``from_json`` with a DECLARED StructType (inference at
  100 TB is a full extra pass) flattened by CHAINED ``explode`` — each
  explode is a map-side lateral expansion, no shuffle; the query below
  round-trips fixtures through to_json/from_json so the DuckDB oracle
  can check the flatten against the un-nested base tables.
- Binary payloads are opaque ``binary`` columns with typed metadata
  (length, md5, MIME) computed by built-in expressions.
- Image/audio decode runs REAL codecs (functions/codecs.py): a full
  stdlib-pure PNG parser (CRC-verified chunks, IDAT inflate, all five
  filter reconstructions) and the stdlib RIFF/WAVE PCM reader, each
  behind a two-stage ``mapInPandas`` (render genuine bytes → decode
  them).  Decoded dims / frame counts follow a closed form over the
  text length, which makes ``mm_decode`` oracle-backed end to end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from newspapers_etl_spark.catalog import load_table
from newspapers_etl_spark.functions.codecs import (
    PngError,
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
)
from newspapers_etl_spark.functions.extraction import mime_for_filename
from newspapers_etl_spark.registry import query
from newspapers_etl_spark.sources.manifest import flatten_manifests

# ---------------------------------------------------------------------------
# S2: nested-JSON manifest flatten (4-level items → body.id)
# ---------------------------------------------------------------------------

MANIFEST_FLATTEN_ORACLE = """
SELECT o.o_orderkey AS manifest_key,
       'page-' || CAST(l.l_linenumber AS VARCHAR) AS canvas_id,
       'https://img/' || CAST(o.o_orderkey AS VARCHAR) || '/'
         || CAST(l.l_partkey AS VARCHAR) || '.jp2' AS jp2_url
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey % 100 = 0
"""


@query("mmman", oracle=MANIFEST_FLATTEN_ORACLE)
def mm_manifest_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build IIIF-shaped manifest JSON documents (one per order, pages
    from its lineitems), then flatten them back with from_json + chained
    explode + body.id projection.  The oracle checks the flatten against
    the un-nested join, proving the nested traversal is lossless.

    Construction: orders×lineitem → per-order collect_list of canvas
    structs → to_json.  Flatten: from_json(declared schema) → explode
    canvases → explode annotation pages → explode annotations →
    body.id, keeping only .jp2 bodies (P7's endswith predicate)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.pmod("o_orderkey", F.lit(100)) == 0
    )
    li = load_table(spark, sf_dir, "lineitem")
    # --- build nested manifests (the synthetic stand-in for the fetched JSON)
    canvas = F.struct(
        F.concat(F.lit("page-"), F.col("l_linenumber")).alias("id"),
        F.array(
            F.struct(
                F.array(
                    F.struct(
                        F.struct(
                            F.concat(
                                F.lit("https://img/"),
                                F.col("o_orderkey"),
                                F.lit("/"),
                                F.col("l_partkey"),
                                F.lit(".jp2"),
                            ).alias("id")
                        ).alias("body")
                    )
                ).alias("items")
            )
        ).alias("items"),
    )
    manifests = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_orderkey", canvas.alias("canvas"))
        .groupBy("o_orderkey")
        .agg(F.collect_list("canvas").alias("canvases"))
        .select(
            "o_orderkey",
            F.to_json(
                F.struct(
                    F.concat(F.lit("manifest-"), F.col("o_orderkey")).alias("id"),
                    F.col("canvases").alias("items"),
                )
            ).alias("manifest_json"),
        )
    )
    # --- the actual S2 operator (sources/manifest.py): parse + 3 chained
    # explodes + body.id projection + .jp2 suffix filter
    return flatten_manifests(manifests, "o_orderkey", "manifest_json")


# ---------------------------------------------------------------------------
# S3/S4: binary payload metadata (length, md5, MIME)
# ---------------------------------------------------------------------------

BINARY_META_ORACLE = """
SELECT 'bib' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '.jp2'
                 WHEN doc_id % 3 = 1 THEN '.pdf' ELSE '.txt' END AS filename,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text)                    AS content_md5,
       CASE WHEN doc_id % 3 = 0 THEN 'image/jp2'
            WHEN doc_id % 3 = 1 THEN 'application/pdf'
            ELSE 'application/octet-stream' END AS mime
FROM documents
"""


@query("mmmet", oracle=BINARY_META_ORACLE)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column: byte length, md5
    audit digest (S4's verify, src/01-scrape-images.py:78-83,126-131),
    and the P9 MIME case expression.  The binary payload is the document
    text encoded — same shape as a binaryFile read's `content` column
    (which tests/test_multimodal.py exercises against real files)."""
    d = load_table(spark, sf_dir, "documents")
    ext = (
        F.when(F.pmod("doc_id", F.lit(3)) == 0, ".jp2")
        .when(F.pmod("doc_id", F.lit(3)) == 1, ".pdf")
        .otherwise(".txt")
    )
    filename = F.concat(F.lit("bib"), F.col("doc_id"), ext)
    content = F.encode("text", "UTF-8")  # the opaque binary column
    return d.select(
        filename.alias("filename"),
        F.octet_length(content).cast("long").alias("n_bytes"),
        F.md5(content).alias("content_md5"),
        mime_for_filename(filename).alias("mime"),
    )


# ---------------------------------------------------------------------------
# Image decode: REAL PNG codec (functions/codecs.py) over mapInPandas
# ---------------------------------------------------------------------------
#
# The fixture has no binary image column, so stage 1 RENDERS genuine PNG
# bytes from each document (dimensions derived from the text length,
# pixels from the text bytes) and stage 2 DECODES them with the full PNG
# parser — signature, per-chunk CRC-32, zlib inflate, all five filter
# reconstructions.  The decoded dimensions therefore follow a closed
# form over strlen(text), which is what makes mm_decode ORACLE-BACKED:
# DuckDB predicts the dims from the text length while Spark extracts
# them from real IHDR bytes; the hashes agree only if the codec works.

RENDER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("png", T.BinaryType()),
    ]
)

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def _render_png(doc_id: int, content: bytes) -> bytes:
    """Deterministic fixture renderer: a real PNG whose dimensions are a
    closed form over the payload length (the oracle's contract) and
    whose pixels tile the payload bytes.  Every 4th doc is grayscale so
    both color types exercise the decoder."""
    n = len(content)
    width = 4 + n % 13
    height = 4 + (n * 7) % 13
    channels = 1 if doc_id % 4 == 0 else 3
    need = width * height * channels
    reps = -(-need // max(1, n))  # ceil; content is never empty in fixtures
    pixels = (content * reps)[:need]
    return encode_png(width, height, pixels, channels)


def render_png_batches(
    it: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas stage 1: (doc_id, content) → (doc_id, png).  The PNG
    bytes cross the Arrow boundary as a genuine binary column — the
    same shape a binaryFile read or a fetcher (sources/fetcher.py)
    produces.  A NULL payload (nullable column; routine at corpus
    scale) renders to NULL rather than crashing the batch — the decode
    stage reports it as decode_ok=false."""
    for pdf in it:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "png": [
                    None if b is None else _render_png(i, b)
                    for i, b in zip(pdf["doc_id"], pdf["content"])
                ],
            }
        )


def decode_image_batches(
    it: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas stage 2: one Arrow batch of (doc_id, png) in, one
    batch of decoded metadata out.  The decode is the REAL parser
    (functions/codecs.py:decode_png): CRC-verified chunk walk, IDAT
    inflate, filter reconstruction.  A malformed or NULL payload yields
    decode_ok=False rather than poisoning the batch."""
    for pdf in it:
        ids, ws, hs, cs, oks = [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["png"]):
            try:
                if payload is None:
                    raise PngError("null payload")
                w, h, c, _pixels = decode_png(bytes(payload))
                ok = True
            except PngError:
                w = h = c = 0
                ok = False
            ids.append(doc_id)
            ws.append(w)
            hs.append(h)
            cs.append(c)
            oks.append(ok)
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "width": pd.array(ws, dtype="int32"),
                "height": pd.array(hs, dtype="int32"),
                "n_channels": pd.array(cs, dtype="int32"),
                "decode_ok": oks,
            }
        )


# ---------------------------------------------------------------------------
# Audio frame sampling: REAL RIFF/WAVE PCM codec, 1→N Arrow fan-out
# ---------------------------------------------------------------------------

FRAME_SAMPLES = 256  # PCM samples per frame window
FRAME_STRIDE = 4  # keep every 4th frame

RENDER_WAV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("wav", T.BinaryType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_feature", T.DoubleType()),
    ]
)


def _render_wav(doc_id: int, content: bytes) -> bytes:
    """Deterministic fixture renderer: genuine RIFF/WAVE 16-bit PCM
    whose sample count is a closed form over the payload length and
    whose samples derive from the payload bytes."""
    n = len(content)
    n_samples = 256 + (n * 13) % 2048
    samples = [
        ((content[i % n] * 257 + i * 31) % 65536) - 32768
        for i in range(n_samples)
    ]
    return encode_wav(samples)


def render_wav_batches(
    it: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas stage 1: (doc_id, content) → (doc_id, wav).  NULL
    payloads render to NULL (see render_png_batches)."""
    for pdf in it:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "wav": [
                    None if b is None else _render_wav(i, b)
                    for i, b in zip(pdf["doc_id"], pdf["content"])
                ],
            }
        )


def sample_frame_batches(
    it: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas stage 2 with 1→N fan-out: each (doc_id, wav) row is
    decoded by the stdlib wave parser back to PCM samples, windowed into
    FRAME_SAMPLES-sample frames, and every FRAME_STRIDE-th frame yields
    one output row with its RMS energy — the batch shape a real
    video/audio pipeline has (ffmpeg frame iterators, PCM windows).
    Frame rows never carry the payload, so the post-fan-out shuffle is
    skinny."""
    for pdf in it:
        ids, idxs, feats = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["wav"]):
            if payload is None:
                # an undecodable container has no frames to sample —
                # the doc simply contributes no rows (same verdict the
                # oracle reaches: NULL text -> no sample range)
                continue
            _rate, samples = decode_wav(bytes(payload))
            n_frames = max(1, len(samples) // FRAME_SAMPLES)
            for fi in range(0, n_frames, FRAME_STRIDE):
                window = samples[
                    fi * FRAME_SAMPLES : (fi + 1) * FRAME_SAMPLES
                ]
                rms = (
                    sum(s * s for s in window) / max(1, len(window))
                ) ** 0.5
                ids.append(doc_id)
                idxs.append(fi)
                feats.append(rms)
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "frame_idx": pd.array(idxs, dtype="int32"),
                "frame_feature": feats,
            }
        )


# The WAV fixture is fully deterministic — sample values are a closed
# form over the text bytes, n_samples over the text length, and 16-bit
# PCM round-trips EXACTLY — so DuckDB can recompute every output column
# including the RMS energy: unnest a per-doc sample index range, rebuild
# each sample from ord(substr(text, ...)), window into 256-sample
# frames, keep every 4th.  The hash matches only if the RIFF encode →
# stdlib-wave decode → windowing pipeline preserves the PCM bit-for-bit.
# Sums stay exact in doubles (sum of 256 values ≤ 2^30 each < 2^53) and
# each doc samples ≤ 2 frames, so avg() has no float-order ambiguity.
FRAMES_ORACLE = f"""
WITH f AS (
  SELECT doc_id, text, strlen(text) AS L,
         greatest(1, (256 + (strlen(text) * 13 % 2048)) // {FRAME_SAMPLES})
           AS n_frames
  FROM documents
),
samp AS (
  SELECT doc_id, L, text,
         unnest(range(0, n_frames * {FRAME_SAMPLES})) AS i
  FROM f
),
vals AS (
  SELECT doc_id,
         CAST(i // {FRAME_SAMPLES} AS INT) AS fi,
         ((ord(substr(text, CAST(i % L AS INT) + 1, 1)) * 257 + i * 31)
           % 65536) - 32768 AS s
  FROM samp
),
frames AS (
  SELECT doc_id, fi,
         sqrt(sum(CAST(s AS DOUBLE) * s) / {FRAME_SAMPLES}) AS rms
  FROM vals
  WHERE fi % {FRAME_STRIDE} = 0
  GROUP BY doc_id, fi
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_sampled_frames,
       CAST(max(fi) AS INT)     AS last_frame_idx,
       round(avg(rms), 4)       AS avg_feature
FROM frames
GROUP BY doc_id
"""


@query("mmfrm", oracle=FRAMES_ORACLE)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample a binary audio column via two mapInPandas stages —
    render genuine RIFF/WAVE PCM, then decode it with the stdlib wave
    parser and emit stride-4 frame windows with RMS energy — and roll
    the sampled frames up per doc.  The production plan shape: narrow
    scan → ArrowEval render → ArrowEval fan-out (one row per sampled
    frame) → partial agg.  At 100 TB, repartition upstream so one Arrow
    batch of containers fits executor memory, exactly as for the image
    decode.  ORACLE-BACKED since r5: every column — including the RMS
    energy — follows a closed form over the text bytes that DuckDB
    recomputes independently (FRAMES_ORACLE above), so the hash match
    proves the PCM survives the RIFF encode/decode bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    wavs = payloads.mapInPandas(render_wav_batches, RENDER_WAV_SCHEMA)
    frames = wavs.mapInPandas(sample_frame_batches, FRAME_SCHEMA)
    return frames.groupBy("doc_id").agg(
        F.count("*").alias("n_sampled_frames"),
        F.max("frame_idx").alias("last_frame_idx"),
        F.round(F.avg("frame_feature"), 4).alias("avg_feature"),
    )


DECODE_ORACLE = """
SELECT CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 3 END AS n_channels,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(count(*) AS BIGINT) AS n_ok,
       CAST(min(4 + strlen(text) % 13) AS INT) AS min_width,
       CAST(max(4 + strlen(text) % 13) AS INT) AS max_width,
       round(avg(4 + (strlen(text) * 7) % 13), 4) AS avg_height
FROM documents
GROUP BY 1
"""


@query("mmdec", oracle=DECODE_ORACLE)
def mm_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode a binary image column with the REAL PNG codec and
    aggregate the decoded dimensions.  Two mapInPandas stages: render
    genuine PNG bytes (dims = closed form over text length, pixels =
    text bytes, varying filter types), then fully parse them back
    (CRC-verified chunks, IDAT inflate, all five filter
    reconstructions).  The oracle predicts the dims from strlen(text)
    alone — the hash can only match if IHDR parsing, inflate, and
    unfiltering all succeed on every document (n_ok counts
    decode_ok=true rows).  Plan: narrow scan → ArrowEval render →
    ArrowEval decode — metadata stays JVM-side — → partial agg; at
    100 TB add a repartition upstream sized so one Arrow batch of
    images fits executor memory."""
    d = load_table(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("content"))
    pngs = payloads.mapInPandas(render_png_batches, RENDER_SCHEMA)
    decoded = pngs.mapInPandas(decode_image_batches, DECODE_SCHEMA)
    return decoded.groupBy("n_channels").agg(
        F.count("*").cast("long").alias("n_images"),
        F.sum(F.when(F.col("decode_ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_ok"),
        F.min("width").alias("min_width"),
        F.max("width").alias("max_width"),
        F.round(F.avg("height"), 4).alias("avg_height"),
    )
