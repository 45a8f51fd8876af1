"""Multimodal (binary) column plumbing for LLM-data pipelines.

Convention: media rides in an opaque `binary` column with a typed
metadata struct alongside; decode / feature-extract / resize /
frame-sample are Arrow-batched pandas functions over mapInPandas so the
bytes never round-trip through the driver and each batch stays columnar.

Image DIMENSIONS are decoded from container headers (PNG IHDR, JPEG SOF
walk, GIF screen descriptor, BMP info header — magic bytes + fixed
offsets). Full PIXEL work is real too, via the pure-stdlib codecs in
`media_codec`: PNG decode/encode (zlib + all five scanline filters),
24-bit BMP decode, nearest/bilinear resampling, and Y4M video frame
sampling, GIF (LZW), and baseline JPEG (Huffman + IDCT). Non-baseline
JPEG (progressive SOF2) and exotic containers surface NULL outputs
rather than errors, and the mapInPandas seam is where a C codec would
slot in for production throughput.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from moloch_spark.operators import media_codec as MC

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("data", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType(), True),
                    T.StructField("declared_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("digest", T.StringType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as opaque media blobs so the
    binary plumbing is exercised end-to-end on the driver tables."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        # NULL text ≡ '' (engine-wide contract): a missing body is a
        # zero-byte blob, never a NULL data column
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("data"),
        F.struct(
            F.col("source").alias("source"),
            F.col("n_chars").cast("long").alias("declared_bytes"),
        ).alias("meta"),
    )


def decode_image_header(data: bytes | None) -> tuple[str | None, int | None, int | None]:
    """(format, width, height) from container headers alone — PNG IHDR,
    JPEG SOF0/1/2 marker walk, GIF screen descriptor, BMP info header.
    Unknown/truncated bytes -> (None, None, None); never throws."""
    if not data:
        return None, None, None
    try:
        if data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) >= 24:
            w, h = struct.unpack(">II", data[16:24])
            return "png", w, h
        if data[:2] == b"\xff\xd8":  # JPEG: walk segments to a SOF
            off = 2
            while off + 4 <= len(data):
                if data[off] != 0xFF:
                    break
                marker = data[off + 1]
                if marker in (0xC0, 0xC1, 0xC2):  # baseline/extended/progressive
                    if off + 9 > len(data):
                        break
                    h, w = struct.unpack(">HH", data[off + 5 : off + 9])
                    return "jpeg", w, h
                if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
                    off += 2
                    continue
                seg_len = struct.unpack(">H", data[off + 2 : off + 4])[0]
                off += 2 + seg_len
            return "jpeg", None, None
        if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
            w, h = struct.unpack("<HH", data[6:10])
            return "gif", w, h
        if data[:2] == b"BM" and len(data) >= 26:
            w, h = struct.unpack("<ii", data[18:26])
            return "bmp", abs(w), abs(h)
    except struct.error:
        pass
    return None, None, None


def extract_features(media: DataFrame, *, batch_size_hint: int = 1024) -> DataFrame:
    """Decode + feature-extract over mapInPandas (Arrow batches).

    Real at any scale: partitions stream through Python in columnar
    batches; output schema is fixed; no driver collection. Dimensions
    come from real header parsing (decode_image_header); non-image
    bytes get NULL format/dims.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            datas = pdf["data"]
            byte_len = datas.map(lambda b: len(b) if b is not None else 0)
            digest = datas.map(
                lambda b: hashlib.md5(b).hexdigest() if b is not None else None
            )
            hdr = [decode_image_header(b) for b in datas]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": byte_len.astype("int64"),
                    "digest": digest,
                    "format": [x[0] for x in hdr],
                    "width": pd.array([x[1] for x in hdr], dtype="Int64"),
                    "height": pd.array([x[2] for x in hdr], dtype="Int64"),
                }
            )

    return media.mapInPandas(fn, schema=FEATURES_SCHEMA)


def fit_geometry(w: int, h: int, max_w: int, max_h: int) -> tuple[int, int, float]:
    """Aspect-preserving fit inside (max_w, max_h), never upscaling.
    Single source of truth for both the metadata planner (resize_plan)
    and the pixel materializer (resize_images)."""
    scale = min(1.0, max_w / w, max_h / h)
    return max(1, int(w * scale)), max(1, int(h * scale)), scale


def resize_plan(
    media: DataFrame, max_width: int, max_height: int, *, materialize: bool = False
) -> DataFrame:
    """Resize geometry, computed from decoded headers: fit the image
    inside (max_width, max_height) preserving aspect ratio, never
    upscaling — columns target_width/target_height/scale alongside the
    original dims. Header-only, so it never touches pixel data; use
    resize_images (or materialize=True) for the actual resample."""
    if materialize:
        return resize_images(media, max_width, max_height)
    feats = extract_features(media).select("media_id", "format", "width", "height")
    # least()/greatest() SKIP null operands, which would hand non-image
    # rows scale=1.0 and a 1x1 target — undecodable media must keep NULL
    # geometry instead
    decodable = F.col("width").isNotNull() & F.col("height").isNotNull()
    scale = F.when(
        decodable,
        F.least(
            F.lit(1.0),
            F.lit(max_width) / F.col("width"),
            F.lit(max_height) / F.col("height"),
        ),
    )
    return (
        media.join(feats, "media_id")
        .withColumn("scale", scale)
        .withColumn(
            "target_width",
            F.when(decodable, F.greatest(F.lit(1), F.floor(F.col("width") * scale))).cast("long"),
        )
        .withColumn(
            "target_height",
            F.when(decodable, F.greatest(F.lit(1), F.floor(F.col("height") * scale))).cast("long"),
        )
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("target_width", T.LongType(), True),
        T.StructField("target_height", T.LongType(), True),
        T.StructField("scale", T.DoubleType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
        T.StructField("data", T.BinaryType(), True),
    ]
)


def _decode_pixels(data: bytes | None) -> tuple[str, "np.ndarray"] | None:
    """Pixel decode for the formats the pure-stdlib codec covers.
    Returns (format, HxWxC array) or None when undecodable (unknown
    container or a non-baseline JPEG)."""
    if not data:
        return None
    try:
        if data[:8] == b"\x89PNG\r\n\x1a\n":
            return "png", MC.png_decode(data)
        if data[:2] == b"BM":
            return "bmp", MC.bmp_decode(data)
        if data[:6] in (b"GIF87a", b"GIF89a"):
            return "gif", MC.gif_decode(data)
        if data[:2] == b"\xff\xd8":
            return "jpeg", MC.jpeg_decode(data)
    except Exception:  # noqa: BLE001 — hostile bytes -> NULL row
        return None
    return None


def resize_images(
    media: DataFrame,
    max_width: int,
    max_height: int,
    *,
    method: str = "nearest",
) -> DataFrame:
    """REAL pixel resample over mapInPandas: decode (PNG/BMP, pure
    stdlib), aspect-fit to (max_width, max_height), resample
    (nearest|bilinear), re-encode as PNG. Emits per-channel means of the
    resized image (a codec-independent correctness signal the DuckDB
    oracle can predict for synthetic inputs) alongside the bytes.
    Undecodable rows keep NULL outputs. One image per Python call inside
    Arrow batches — the seam where a C codec would slot in for
    codec-bound corpora."""
    resample = MC.resize_bilinear if method == "bilinear" else MC.resize_nearest

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                dec = _decode_pixels(data)
                if dec is None:
                    rows.append((int(mid), None, None, None, None, None, None,
                                 None, None, None, None))
                    continue
                fmt, arr = dec
                h, w = arr.shape[:2]
                tw, th, scale = fit_geometry(w, h, max_width, max_height)
                out = resample(arr, tw, th)
                chans = out if out.ndim == 3 else out[:, :, None]
                means = chans.reshape(-1, chans.shape[2]).mean(axis=0)
                mr = float(means[0])
                mg = float(means[1]) if chans.shape[2] >= 3 else mr
                mb = float(means[2]) if chans.shape[2] >= 3 else mr
                rows.append(
                    (int(mid), fmt, w, h, tw, th, float(scale),
                     mr, mg, mb, MC.png_encode(out))
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED_SCHEMA])

    return media.mapInPandas(fn, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.LongType(), False),
        T.StructField("width", T.LongType(), False),
        T.StructField("height", T.LongType(), False),
        T.StructField("chroma", T.StringType(), False),
        T.StructField("luma_mean", T.DoubleType(), True),
        T.StructField("frame_png", T.BinaryType(), True),
    ]
)


def frame_sample(media: DataFrame, every_n: int) -> DataFrame:
    """REAL video frame sampling over Y4M (YUV4MPEG2 — ffmpeg/x264's
    uncompressed interchange container): parse the stream header, slice
    every Nth frame, emit one row per sampled frame with the luma plane
    re-encoded as a grayscale PNG plus its mean (oracle-predictable for
    synthetic streams). Compressed containers (mp4/mkv) need ffmpeg and
    are out of scope; undecodable rows yield no frames.

    Row explosion happens executor-side inside mapInPandas — no driver
    round-trip, output partitioning inherits the input's."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                if not data or not bytes(data).startswith(b"YUV4MPEG2"):
                    continue
                try:
                    b = bytes(data)
                    w, h, chroma, _ = MC.y4m_parse_header(b)
                    for idx, luma, _frame in MC.y4m_iter_frames(b):
                        if idx % every_n:
                            continue
                        plane = np.frombuffer(luma, dtype=np.uint8).reshape(h, w)
                        rows.append(
                            (int(mid), idx, w, h, chroma,
                             float(plane.mean()), MC.png_encode(plane))
                        )
                except ValueError:
                    continue
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA])

    return media.mapInPandas(fn, schema=FRAME_SCHEMA)


def synth_solid_png_media(docs: DataFrame, *, max_dim: int = 96) -> DataFrame:
    """Per-row VALID solid-color PNG (full encoder, not header-only)
    whose dims and color derive from row columns — so a DuckDB oracle
    can predict the resize pipeline's output analytically. Used by the
    multimodal_resize gate and tests."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, nch in zip(pdf["doc_id"], pdf["n_chars"]):
                did, nch = int(did), int(nch)
                w = 16 + did % max_dim
                h = 8 + nch % max_dim
                arr = np.empty((h, w, 3), np.uint8)
                arr[:] = (did % 256, nch % 256, (did * 7) % 256)
                rows.append((did, "image", MC.png_encode(arr), None))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "data", "meta"]
            )

    # the docs table is one small parquet file -> one input partition,
    # while the downstream pixel codecs cost ~ms/row: spread the rows
    # across cores first (what a real media corpus gets from its splits)
    ids = docs.select("doc_id", "n_chars").repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    return ids.mapInPandas(fn, schema=MEDIA_SCHEMA)


def synth_y4m_media(docs: DataFrame, *, w: int = 8, h: int = 6) -> DataFrame:
    """Per-row VALID Y4M stream: 1 + doc_id % 7 constant-luma frames
    (luma_i = (doc_id*13 + i*29) % 256) — frame sampling output is
    oracle-predictable per (doc_id, frame_index)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = [
                    np.full((h, w), (did * 13 + i * 29) % 256, np.uint8)
                    for i in range(1 + did % 7)
                ]
                rows.append((did, "video", MC.y4m_encode(frames), None))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "data", "meta"]
            )

    return docs.select("doc_id").mapInPandas(fn, schema=MEDIA_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("channels", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.LongType(), True),
    ]
)


def extract_audio_features(media: DataFrame, *, decimate: int = 1) -> DataFrame:
    """REAL audio decode over mapInPandas: 16-bit PCM WAV (pure struct
    parsing) -> rate / channel / duration bookkeeping + RMS and peak of
    the (optionally every-Nth-sample decimated) signal. Undecodable
    rows keep NULL outputs; one clip per Python call inside Arrow
    batches — the same seam a C audio codec would slot into."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                try:
                    rate, samples = MC.wav_decode(bytes(data) if data else b"")
                except ValueError:
                    rows.append((int(mid), None, None, None, None, None, None))
                    continue
                samples = MC.audio_decimate(samples, decimate)
                n, ch = samples.shape
                flat = samples.astype(np.float64)
                rms = float(np.sqrt((flat * flat).mean())) if n else None
                peak = int(np.abs(samples).max()) if n else None
                rows.append(
                    (int(mid), rate, ch, n, float(n / (rate / decimate)),
                     rms, peak)
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_SCHEMA])

    return media.mapInPandas(fn, schema=AUDIO_SCHEMA)


def synth_wav_media(docs: DataFrame, *, rate: int = 8000) -> DataFrame:
    """Per-row VALID constant-amplitude WAV clip: n = 100 + doc_id % 400
    samples of value (doc_id % 1000) - 500 — RMS/peak/duration are
    oracle-predictable from doc_id alone."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 100 + did % 400
                val = (did % 1000) - 500
                clip = np.full(n, val, dtype=np.int16)
                rows.append((did, "audio", MC.wav_encode(clip, rate), None))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "data", "meta"]
            )

    return docs.select("doc_id").mapInPandas(fn, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup (the LAION-style image-native dedup rung:
# ref analog is content dedup generally — moloch has no image corpus —
# and the published dHash/aHash dedup every image-crawl pipeline runs)
# ---------------------------------------------------------------------------

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("dhash", T.StringType(), True),
        T.StructField("dhash64", T.LongType(), True),
    ]
)


def image_dhash(
    media: DataFrame, *, hash_w: int = 8, hash_h: int = 8
) -> DataFrame:
    """Difference hash over REAL pixel decode: grayscale the image
    (channel mean; alpha ignored), block-mean downsample to
    (hash_h × hash_w+1) cells — integer block boundaries, so the hash
    is deterministic and, for block-constant synthetic images,
    analytically predictable by a SQL oracle — then one bit per
    horizontally adjacent cell pair (right > left), packed row-major
    MSB-first. Emits the hash both as a 16-hex string (grouping key)
    and as a signed long `dhash64` (bit_count-able for Hamming
    distance). Undecodable rows emit NULLs.

    Scale shape: one mapInPandas scan, zero shuffle — the hash is the
    64-bit surrogate the dedup joins run on, so the image BYTES never
    shuffle. dHash is translation/scale-robust enough for re-encoded
    and resized duplicates (the common crawl-dup case); rotation/crop
    robustness needs embedding-cosine dedup (already covered by the
    embedding near-dup family)."""
    if hash_w * hash_h != 64:
        raise ValueError(
            f"hash_w*hash_h must be 64 (the dhash64/hex16/banded "
            f"contract), got {hash_w * hash_h}"
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                dec = _decode_pixels(
                    bytes(data) if data is not None else None
                )
                if dec is None:
                    rows.append((int(mid), None, None, None))
                    continue
                fmt, arr = dec
                a = arr.astype(np.float64)
                if a.ndim == 3:
                    c = a.shape[2]
                    a = a[:, :, :3].mean(axis=2) if c >= 3 else a[:, :, 0]
                h, w = a.shape
                ys = [h * i // hash_h for i in range(hash_h + 1)]
                xs = [w * j // (hash_w + 1) for j in range(hash_w + 2)]
                cells = np.empty((hash_h, hash_w + 1))
                for i in range(hash_h):
                    y1 = max(ys[i + 1], ys[i] + 1)
                    for j in range(hash_w + 1):
                        x1 = max(xs[j + 1], xs[j] + 1)
                        cells[i, j] = a[ys[i]:y1, xs[j]:x1].mean()
                bits = (cells[:, 1:] > cells[:, :-1]).ravel()
                v = 0
                for b in bits:
                    v = (v << 1) | int(b)
                signed = v - (1 << 64) if v >= (1 << 63) else v
                rows.append((int(mid), fmt, f"{v:016x}", signed))
            yield pd.DataFrame(
                rows, columns=[f.name for f in DHASH_SCHEMA]
            )

    return media.mapInPandas(fn, schema=DHASH_SCHEMA)


def image_dup_groups(hashes: DataFrame) -> DataFrame:
    """Exact perceptual-dup grouping: rows sharing a dHash collapse to
    the smallest media_id (the canonical copy a dedup pass keeps).
    One hash-key shuffle of (id, hash) pairs — image bytes never move.
    Undecodable (NULL-hash) rows pass through as their own canonicals:
    a dedup pass must not silently drop what it could not decode.
    Thin wrapper over hash_dup_groups (the generic form the audio
    fingerprint shares — one grouping semantics, no per-modality
    fork)."""
    return hash_dup_groups(hashes, id_col="media_id", hash_col="dhash")


def image_near_dup_pairs(
    hashes: DataFrame, *, max_hamming: int = 6, bands: int = 8
) -> DataFrame:
    """Near-duplicate image pairs by banded Hamming join — the LSH
    shape of the dedup family applied to the 64-bit dHash: split the
    hash into `bands` byte-bands; by pigeonhole, any pair within
    Hamming distance < `bands` shares at least one identical band, so
    the candidate join is a (band_index, band_value) EQUI-join (never
    n²) and exact `bit_count(a XOR b)` filters candidates to
    `<= max_hamming`. With the default 8 bands recall is exact for
    max_hamming <= 7. Output: (id_a, id_b, hamming), id_a < id_b.
    Thin wrapper over banded_hamming_pairs (the shared generator the
    audio fingerprint uses too)."""
    return banded_hamming_pairs(
        hashes,
        id_col="media_id",
        hash_col="dhash64",
        max_hamming=max_hamming,
        bands=bands,
    )


def synth_striped_png_media(docs: DataFrame, *, scale: int = 1) -> DataFrame:
    """Per-row VALID grayscale PNG of 9 vertical stripes (18s×8s px,
    2s-px stripes at integer `scale` s) whose brightness pattern is the
    low 9 bits of doc_id — each dHash cell is exactly one constant
    stripe at EVERY scale (the 8×9 hash grid divides 8s×18s evenly), so
    the hash is predictable by pure integer arithmetic in a SQL oracle
    AND scale-invariant by construction: a `scale=2` sibling is the
    "same image, resized" near-dup case with dHash distance exactly 0
    (the multimodal gate-synthesis pattern). Used by the
    image_dhash_dedup / multimodal_near_dup gates and tests."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                p = did % 512
                arr = np.empty((8 * scale, 18 * scale), np.uint8)
                for j in range(9):
                    arr[:, 2 * scale * j : 2 * scale * (j + 1)] = (
                        255 * ((p >> j) & 1)
                    )
                rows.append((did, "image", MC.png_encode(arr), None))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "data", "meta"]
            )

    ids = docs.select("doc_id").repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    return ids.mapInPandas(fn, schema=MEDIA_SCHEMA)


def banded_hamming_pairs(
    hashes: DataFrame,
    *,
    id_col: str = "media_id",
    hash_col: str = "dhash64",
    max_hamming: int = 6,
    bands: int = 8,
    extra_key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Generic banded Hamming join over any 64-bit signature column —
    the one LSH-shaped candidate generator behind image dHash AND the
    audio fingerprint (forking it per modality would fork the recall
    math): split the 64-bit value into `bands` equal bit-bands; by
    pigeonhole any pair within Hamming distance < `bands` shares an
    identical band, so candidates come from a (band, value) EQUI-join
    (never n²) and exact bit_count(a XOR b) filters them. Output
    (*extra_key_cols, id_a, id_b, hamming) with id_a < id_b.

    `extra_key_cols` joins only rows agreeing on those columns (and
    carries them through) — how video_near_dup_clips pairs frame i of
    clip A with frame i of clip B without forking the banding."""
    if max_hamming >= bands:
        raise ValueError(
            f"banded recall is only exact for max_hamming < bands "
            f"({max_hamming} >= {bands})"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    # materialize the (id, hash64, *keys) PROXY rows once before the
    # self-join: both legs of the (band, value) equi-join otherwise
    # re-evaluate the full upstream lineage — for the media pipelines
    # that is the whole PNG/WAV/Y4M decode MapInPandas subtree, paid
    # TWICE per call (the near-dup gate's plan carried 24 decode
    # nodes). The proxy is ~16 bytes/row regardless of media size —
    # exactly the "decide with small rows" shape; the narrow select
    # also keeps any payload columns out of the materialized RDD.
    h = (
        hashes.filter(F.col(hash_col).isNotNull())
        .select(id_col, hash_col, *extra_key_cols)
        .localCheckpoint(eager=False)
    )
    bands_col = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                (
                    F.shiftrightunsigned(F.col(hash_col), j * width)
                    .bitwiseAND(F.lit(mask))
                ).alias("val"),
            )
            for j in range(bands)
        ]
    )
    extras = [F.col(c) for c in extra_key_cols]
    e = h.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        *extras,
        F.explode(bands_col).alias("b"),
    )
    a = e.select(
        F.col("_id").alias("id_a"), F.col("_h").alias("h_a"),
        F.col("b.band").alias("band"), F.col("b.val").alias("val"),
        *extras,
    )
    b = e.select(
        F.col("_id").alias("id_b"), F.col("_h").alias("h_b"),
        F.col("b.band").alias("band"), F.col("b.val").alias("val"),
        *extras,
    )
    return (
        a.join(b, ["band", "val", *extra_key_cols])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b", *extra_key_cols])
        .select(
            *extra_key_cols,
            "id_a",
            "id_b",
            F.bit_count(
                F.col("h_a").bitwiseXOR(F.col("h_b"))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("afp", T.StringType(), True),
        T.StructField("afp64", T.LongType(), True),
    ]
)


def audio_fingerprint(
    media: DataFrame, *, n_frames: int = 9, n_bands: int = 8
) -> DataFrame:
    """Acoustic fingerprint over REAL WAV decode — the Haitsma-Kalker
    bit derivation every audio-dedup pipeline uses: mono-mix, split
    the clip into `n_frames` equal windows, per-window spectral energy
    in `n_bands` rFFT bands, one bit per (window t>0, band): energy
    rose vs the previous window. (n_frames-1) × n_bands = 64 bits,
    packed window-major MSB-first as hex string + bit_countable long.

    The sign-of-difference derivation is exactly stable under
    anything that preserves the decoded waveform (re-containering,
    bit-identical copies) and NEARLY stable under volume scaling: the
    float math is scale-invariant, but a scaled copy was re-quantized
    to int16, and in near-silent bands the comparison sign rides that
    quantization noise — so, as in Haitsma-Kalker matching, dup
    detection over lossy copies is a SMALL-Hamming-distance question
    (banded_hamming_pairs), with exact-hash grouping reserved for
    bit-identical waveforms. Time reordering or different content
    flips bands wholesale. Clips shorter than n_frames samples, or
    undecodable bytes, emit NULLs. Same scale
    shape as image_dhash: one mapInPandas scan; dedup joins move the
    64-bit surrogate, never audio bytes (pair them with
    hash_dup_groups / banded_hamming_pairs on `afp`/`afp64`)."""
    n_bits = (n_frames - 1) * n_bands
    if n_bits != 64:
        raise ValueError(
            f"(n_frames-1)*n_bands must be 64, got {n_bits}"
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                try:
                    rate, samples = MC.wav_decode(
                        bytes(data) if data else b""
                    )
                except ValueError:
                    rows.append((int(mid), None, None, None))
                    continue
                mono = samples.astype(np.float64).mean(axis=1)
                n = len(mono) // n_frames
                if n == 0:
                    rows.append((int(mid), int(rate), None, None))
                    continue
                windows = mono[: n * n_frames].reshape(n_frames, n)
                spec = np.abs(np.fft.rfft(windows, axis=1)) ** 2
                nb = spec.shape[1]
                edges = [nb * b // n_bands for b in range(n_bands + 1)]
                E = np.empty((n_frames, n_bands))
                for b in range(n_bands):
                    hi = max(edges[b + 1], edges[b] + 1)
                    E[:, b] = spec[:, edges[b]:hi].sum(axis=1)
                bits = (E[1:] > E[:-1]).ravel()
                v = 0
                for bit in bits:
                    v = (v << 1) | int(bit)
                signed = v - (1 << 64) if v >= (1 << 63) else v
                rows.append((int(mid), int(rate), f"{v:016x}", signed))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FP_SCHEMA]
            )

    return media.mapInPandas(fn, schema=AUDIO_FP_SCHEMA)


def hash_dup_groups(
    hashes: DataFrame,
    *,
    id_col: str = "media_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """image_dup_groups generalized to any (id, signature) frame —
    exact-collision grouping to the smallest id; NULL-signature rows
    stay their own canonicals (never silently dropped)."""
    # materialize the (id, signature) proxy once — the grouping and the
    # join-back otherwise both re-run the upstream lineage (for media
    # callers, the decode MapInPandas subtree)
    hashes = hashes.select(id_col, hash_col).localCheckpoint(eager=False)
    g = (
        hashes.filter(F.col(hash_col).isNotNull())
        .groupBy(hash_col)
        .agg(F.min(id_col).alias("dup_of"))
    )
    return (
        hashes.join(g, hash_col, "left")
        .select(
            id_col,
            hash_col,
            F.coalesce(F.col("dup_of"), F.col(id_col)).alias("dup_of"),
            (
                F.coalesce(F.col("dup_of"), F.col(id_col))
                == F.col(id_col)
            ).alias("is_canonical"),
        )
    )


def video_frame_dhash(
    media: DataFrame, *, every_n: int = 1, hash_w: int = 8, hash_h: int = 8
) -> DataFrame:
    """Video near-dup signature: frame-sample the Y4M stream
    (frame_sample) and dHash every sampled frame's luma plane through
    the SAME image pipeline — (media_id, frame_index, dhash, dhash64),
    one row per sampled frame. Re-encoded or re-containered copies of
    a clip produce identical per-frame hash sequences; join on
    (frame_index, dhash) or fold to a per-clip signature downstream.
    Contract: 0 <= media_id < 2^43 and frame_index < 2^20 (the
    composite-id packing used to ride image_dhash's single-key
    schema; enforced with assert_true — a silent long overflow or a
    double-division round-off would misattribute frames across
    videos). Pack and unpack are pure integer shifts, never
    double-precision division."""
    frames = frame_sample(media, every_n)
    packed = frames.select(
        (
            F.shiftleft(
                F.assert_true(
                    (F.col("media_id") >= 0)
                    & (F.col("media_id") < F.lit(1 << 43)),
                    "video_frame_dhash: media_id out of the 2^43 "
                    "composite-id range",
                ).isNull()  # assert_true returns NULL: harness it
                .cast("long") * F.lit(0) + F.col("media_id"),
                20,
            )
            + F.assert_true(
                (F.col("frame_index") >= 0)
                & (F.col("frame_index") < F.lit(1 << 20)),
                "video_frame_dhash: frame_index out of the 2^20 "
                "composite-id range",
            ).isNull().cast("long") * F.lit(0)
            + F.col("frame_index")
        ).alias("media_id"),
        F.col("frame_png").alias("data"),
    )
    h = image_dhash(packed, hash_w=hash_w, hash_h=hash_h)
    comp = F.col("media_id")
    return h.select(
        F.shiftright(comp, 20).cast("long").alias("media_id"),
        comp.bitwiseAND(F.lit((1 << 20) - 1)).cast("long").alias(
            "frame_index"
        ),
        "dhash",
        "dhash64",
    )


def _afp_pattern(n: int = 80) -> np.ndarray:
    """Fixed deterministic broadband +-1000 int16 pattern (md5-seeded,
    engine/run-stable) for synth_patterned_wav_media: every rFFT band
    of this pattern carries nonzero energy (pinned in tests), so a
    window playing the pattern at integer amplitude a has band
    energies EXACTLY proportional to a^2 and every energy-rose
    comparison reduces to comparing the amplitudes."""
    vals = []
    for i in range(n):
        h = hashlib.md5(f"afp:{i}".encode()).digest()
        vals.append(1000 if h[0] & 1 else -1000)
    return np.asarray(vals, dtype=np.int16)


def synth_patterned_wav_media(
    docs: DataFrame, *, rate: int = 8000, gain: int = 1
) -> DataFrame:
    """Per-row VALID WAV of 9 windows, each the SAME fixed broadband
    pattern at integer amplitude gain * (1 + (doc_id*3 + t) % 7) — so
    audio_fingerprint's 64 bits are analytically predictable from
    doc_id alone (bit block t = [amp(t) > amp(t-1)] across all 8
    bands; consecutive amplitudes differ by >= a 7:8 ratio, orders of
    magnitude above FFT float noise, and never tie since the step is
    +3 mod 7). Integer `gain` is the volume-scaled-copy knob for the
    near-dup gates: doubling every int16 sample is EXACT, doubling is
    exact in IEEE, so the scaled sibling's band energies are exactly
    gain² × the original's and its fingerprint is bit-identical. The
    audio gate-synthesis pattern, mirroring synth_striped_png_media."""
    if not 1 <= gain <= 4:
        raise ValueError("gain must be in [1, 4] (7*4*1000 < 2^15)")
    pat = _afp_pattern()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                clip = np.concatenate(
                    [
                        gain
                        * (1 + (did * 3 + t) % 7)
                        * pat.astype(np.int32)
                        for t in range(9)
                    ]
                ).astype(np.int16)  # max |4*7*1000| < 2^15: no wrap
                rows.append((did, "audio", MC.wav_encode(clip, rate), None))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "data", "meta"]
            )

    ids = docs.select("doc_id").repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    return ids.mapInPandas(fn, schema=MEDIA_SCHEMA)


def synth_striped_y4m_media(docs: DataFrame) -> DataFrame:
    """Per-row VALID Y4M clip of 1 + doc_id % 3 frames whose frame-i
    luma plane is the striped 18×8 pattern (doc_id + 37*i) % 512 — the
    synth_striped_png_media stripes as video, so every sampled frame's
    dHash is predictable by the same integer arithmetic and two clips
    are full near-dups iff doc_id ≡ (mod 512) AND ≡ (mod 3) (same
    patterns, same length). Used by the multimodal_near_dup gate and
    tests."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = []
                for i in range(1 + did % 3):
                    p = (did + 37 * i) % 512
                    arr = np.empty((8, 18), np.uint8)
                    for j in range(9):
                        arr[:, 2 * j : 2 * j + 2] = 255 * ((p >> j) & 1)
                    frames.append(arr)
                rows.append((did, "video", MC.y4m_encode(frames), None))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "data", "meta"]
            )

    ids = docs.select("doc_id").repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    return ids.mapInPandas(fn, schema=MEDIA_SCHEMA)


def video_near_dup_clips(
    frame_hashes: DataFrame, *, max_hamming: int = 6, bands: int = 8
) -> DataFrame:
    """Clip-level near-dup pairs from video_frame_dhash output — the
    third modality over the SHARED banded machinery: frame i of clip A
    pairs with frame i of clip B through banded_hamming_pairs keyed
    additionally on frame_index (the pigeonhole recall proof applies
    per frame verbatim), and a clip pair survives iff EVERY frame of
    BOTH clips matched at <= max_hamming — same-length clips
    near-identical frame-for-frame, the re-encoded/re-containered copy
    case. Emits (id_a, id_b, n_frames, hamming = Σ per-frame
    distances), id_a < id_b. A NULL-hash (undecodable) frame counts
    toward its clip's length but can never match, so a clip with one
    undecodable frame pairs with NOTHING — a near-dup verdict must
    not silently pass frames it could not decode (the same policy as
    hash_dup_groups' NULL handling, in the conservative direction a
    PAIR claim needs).

    Scale shape: only (id, frame_index, hash64) rows shuffle — frame
    pixel bytes never move; the per-pair aggregation is bounded by
    matched frame pairs, never clips²."""
    # materialize the per-frame hash proxy once: `counts` and the two
    # banded join legs otherwise each re-run the frame-decode subtree
    frame_hashes = frame_hashes.select(
        "media_id", "frame_index", "dhash64"
    ).localCheckpoint(eager=False)
    counts = frame_hashes.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("_nf")
    )
    per_frame = banded_hamming_pairs(
        frame_hashes,
        id_col="media_id",
        hash_col="dhash64",
        max_hamming=max_hamming,
        bands=bands,
        extra_key_cols=("frame_index",),
    )
    agg = per_frame.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("_matched"),
        F.sum("hamming").alias("hamming"),
    )
    return (
        agg.join(
            counts.select(
                F.col("media_id").alias("id_a"), F.col("_nf").alias("_nf_a")
            ),
            "id_a",
        )
        .join(
            counts.select(
                F.col("media_id").alias("id_b"), F.col("_nf").alias("_nf_b")
            ),
            "id_b",
        )
        .filter(
            (F.col("_matched") == F.col("_nf_a"))
            & (F.col("_matched") == F.col("_nf_b"))
        )
        .select(
            "id_a",
            "id_b",
            F.col("_matched").cast("long").alias("n_frames"),
            F.col("hamming").cast("long").alias("hamming"),
        )
    )
