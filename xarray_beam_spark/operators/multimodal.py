"""Multimodal (image/audio/video) columns for training-data pipelines.

Design: media assets ride in the DataFrame as opaque ``binary`` columns
next to a **typed metadata struct** (mime, width, height, n_frames,
sample_rate, n_bytes); all heavy per-asset compute is one ``mapInArrow``
stage over Arrow batches, so decode/resize/feature-extraction scale
horizontally and stay off the Spark driver. At 100 TB the asset table
partitions by size (``spark.sql.files.maxPartitionBytes``) and the UDF
stages are narrow — no shuffles anywhere in this module.

The container has no media libraries (no PIL/ffmpeg), so every decode
that happens is FROM-SPEC: PNG/JPEG(baseline+progressive)/BMP images,
RIFF/PCM WAV audio, GIF89a animations, and Motion-JPEG MP4 video
(ISO BMFF demux + JPEG frame decode) all parse natively via the
``sources/`` codecs. Formats that would need a licensed/entropy decoder
this repo cannot reimplement (webp/tiff, mp3/ogg, H.264/HEVC) raise
``NotImplementedError`` honestly — for MP4 the codec-agnostic sample
EXTRACTION still works, only the frame decode refuses.
:func:`fake_decode` remains for plumbing tests of the refused formats.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xarray_beam_spark.registry import registrar
from xarray_beam_spark.tables import load

REGISTRY: dict = {}
_register = registrar(REGISTRY)


# ---------------------------------------------------------------------------
# schema
# ---------------------------------------------------------------------------

META_TYPE = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("meta", META_TYPE),
    ]
)


# ---------------------------------------------------------------------------
# decoders
# ---------------------------------------------------------------------------


def decode_image(blob: bytes) -> np.ndarray:
    """Real image decode. PNG, baseline/progressive JPEG, and BMP decode
    natively via the from-spec pure-Python codecs (``sources/png.py``,
    ``sources/jpeg.py``, ``sources/bmp.py`` — no PIL needed); other
    formats (webp/tiff/...) need PIL, which this container lacks, and
    raise ``NotImplementedError`` honestly."""
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        from xarray_beam_spark.sources.png import decode_png

        img = decode_png(blob)
        if img.ndim == 3:  # luma approximation for feature extraction
            img = (
                img[:, :, :3].astype(np.uint16).sum(axis=2) // 3
            ).astype(np.uint8)
        return img
    if blob[:2] == b"\xff\xd8":
        from xarray_beam_spark.sources.jpeg import decode_jpeg

        img = decode_jpeg(blob)
        if img.ndim == 3:
            img = (
                img[:, :, :3].astype(np.uint16).sum(axis=2) // 3
            ).astype(np.uint8)
        return img
    if blob[:2] == b"BM":
        from xarray_beam_spark.sources.bmp import decode_bmp

        img = decode_bmp(blob)
        if img.ndim == 3:
            img = (
                img[:, :, :3].astype(np.uint16).sum(axis=2) // 3
            ).astype(np.uint8)
        return img
    try:
        import io

        from PIL import Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "image codecs beyond PNG/JPEG not installed in this "
            "environment; PNG and baseline JPEG decode natively, use "
            "fake_decode for other plumbing tests"
        ) from exc
    return np.asarray(Image.open(io.BytesIO(blob)).convert("L"))


def decode_audio(blob: bytes) -> tuple[np.ndarray, int]:
    """Real audio decode for WAV (RIFF/PCM + IEEE-float) via the from-spec
    pure-Python codec (``sources/wav.py`` — no audio libs needed); other
    containers (mp3/ogg/flac) need codecs this container lacks and raise
    ``NotImplementedError`` honestly."""
    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        from xarray_beam_spark.sources.wav import decode_wav

        return decode_wav(blob)
    raise NotImplementedError(
        "non-WAV audio codecs not installed in this environment; WAV "
        "decodes natively via xarray_beam_spark.sources.wav"
    )


def decode_video(blob: bytes) -> np.ndarray:
    """Real multi-frame decode for GIF animations (from-spec
    ``sources/gif.py`` — LZW + frame composition) and Motion-JPEG MP4s
    (from-spec ISO BMFF demux ``sources/mp4.py`` + the JPEG decoder) —
    no ffmpeg needed. H.264/HEVC MP4 tracks demux (sample extraction is
    codec-agnostic table arithmetic) but their entropy DECODE is out of
    scope for a from-spec engine and raises ``NotImplementedError``
    honestly, as do other containers (webm). Returns
    ``(n_frames, H, W, 3)`` uint8."""
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        from xarray_beam_spark.sources.gif import decode_gif

        return decode_gif(blob)
    if blob[4:8] == b"ftyp":
        from xarray_beam_spark.sources import mp4

        info = mp4.demux_video(blob)
        if not info["samples"]:
            raise ValueError("video track has no samples")
        frames = []
        for off, size, _dts in info["samples"]:
            img = mp4.decode_frame(info["codec"], blob[off : off + size])
            if img.ndim == 2:  # grayscale → replicate to RGB
                img = np.repeat(img[:, :, None], 3, axis=2)
            frames.append(img[:, :, :3])
        return np.stack(frames)
    raise NotImplementedError(
        "video codecs (webm, non-MJPEG mp4) not installed in this "
        "environment; GIF animations and Motion-JPEG MP4s decode "
        "natively (sources/gif.py, sources/mp4.py)"
    )


def fake_decode(blob: bytes, height: int = 8, width: int = 8) -> np.ndarray:
    """Deterministic stand-in decoder: tile/truncate the raw bytes into an
    (height, width) uint8 'image'. Same contract as a real decoder."""
    need = height * width
    raw = np.frombuffer(blob, dtype=np.uint8)
    if len(raw) == 0:
        raw = np.zeros(1, np.uint8)
    reps = -(-need // len(raw))
    return np.tile(raw, reps)[:need].reshape(height, width)


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize (pure NumPy index math — deterministic)."""
    h, w = img.shape
    ri = (np.arange(out_h) * h) // out_h
    ci = (np.arange(out_w) * w) // out_w
    return img[np.ix_(ri, ci)]


def sample_frames(blob: bytes, frame_bytes: int, every: int) -> list[bytes]:
    """Frame sampling for 'video' blobs = concatenated fixed-size frames:
    keep every ``every``-th frame. Pure byte slicing (no codec)."""
    n = len(blob) // frame_bytes
    return [blob[i * frame_bytes : (i + 1) * frame_bytes] for i in range(0, n, every)]


# ---------------------------------------------------------------------------
# asset construction + operators
# ---------------------------------------------------------------------------


def _map_rows(
    df: DataFrame, schema: T.StructType, fn: Callable[[dict], Iterable[dict]]
) -> DataFrame:
    """``df.mapInArrow`` calling ``fn`` on each input row as a dict; every
    dict ``fn`` yields is one output row of ``schema``, with the fields
    it leaves out null."""
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [out for row in batch.to_pylist() for out in fn(row)]
            yield pa.RecordBatch.from_pylist(rows, schema=pa_schema)

    return df.mapInArrow(run, schema)


def documents_as_assets(docs: DataFrame) -> DataFrame:
    """Demo asset table: utf-8 bytes of each document as the binary blob
    with fully-populated typed metadata (JVM-side expressions only)."""
    blob = F.encode(F.col("text"), "utf-8")
    n_bytes = F.octet_length(F.col("text")).cast("long")
    meta = F.struct(
        F.lit("text/plain").alias("mime"),
        F.lit(8).cast("int").alias("width"),
        F.lit(8).cast("int").alias("height"),
        F.floor(n_bytes / 64).cast("int").alias("n_frames"),
        F.lit(0).cast("int").alias("sample_rate"),
        n_bytes.alias("n_bytes"),
    )
    return docs.select(F.col("doc_id").alias("asset_id"), blob.alias("blob"), meta.alias("meta"))


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("std_px", T.DoubleType()),
        T.StructField("histogram", T.ArrayType(T.LongType())),
        T.StructField("error", T.StringType()),
    ]
)


def _quarantine(decoder: Callable, blob) -> tuple:
    """Per-asset decode guard: a corrupt blob must NEVER fail the Spark
    task (at 100 TB corrupt assets are a statistical certainty; one
    uncaught exception = 4 task retries = dead job). Returns
    ``(decoded, None)`` or ``(None, "ExcType: msg")`` for the caller to
    emit as a quarantine row."""
    try:
        return decoder(blob), None
    except Exception as exc:  # noqa: BLE001 — quarantine, never propagate
        return None, f"{type(exc).__name__}: {exc}"[:512]


def _decode_pixels(decoder: Callable, blob) -> tuple:
    """:func:`_quarantine` for an image decoder: a result that is not a
    non-empty 2-D pixel array quarantines its asset too."""
    img, err = _quarantine(decoder, blob)
    if err is None and not (isinstance(img, np.ndarray) and img.ndim == 2 and img.size):
        return None, (
            "ShapeError: decoded to "
            f"{getattr(img, 'shape', type(img).__name__)}, "
            "expected non-empty 2-D pixel array"
        )
    return img, err


def extract_features(
    assets: DataFrame,
    decoder: Callable[[bytes], np.ndarray] = fake_decode,
    n_bins: int = 16,
) -> DataFrame:
    """Decode + feature-extract per asset (mean/std pixel + byte histogram).

    One ``mapInArrow`` stage; the whole batch's histograms are computed
    with one ``np.add.at`` over a (batch, bins) matrix — no per-pixel
    Python. The decoder is pluggable: swap ``fake_decode`` for a real
    codec wrapper with the same contract when codecs are available.

    Corrupt blobs are quarantined per asset (null features + ``error``
    string column) instead of failing the task — downstream filters on
    ``error IS NULL`` / routes ``error IS NOT NULL`` to a review sink.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(FEATURE_SCHEMA)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            errors: list = [None] * n
            mean: list = [None] * n
            std: list = [None] * n
            hists: list = [None] * n
            # A decoder that returns a malformed array (wrong ndim, empty,
            # out-of-range pixels) must quarantine that ONE asset, not blow
            # up np.stack for the whole batch; and legitimately mixed image
            # sizes in one batch must still vectorize — so group by shape.
            by_shape: dict[tuple, list] = {}
            for i, b in enumerate(batch.column("blob").to_pylist()):
                img, err = _decode_pixels(decoder, b)
                if err is not None:
                    errors[i] = err
                else:
                    by_shape.setdefault(img.shape, []).append((i, img))
            for items in by_shape.values():
                idx = [i for i, _ in items]
                flat = np.stack([im for _, im in items]).reshape(len(idx), -1)
                m, s = flat.mean(axis=1), flat.std(axis=1)
                # clip is a no-op for in-range uint8 pixels; it guards the
                # shared np.add.at against a decoder emitting values >255.
                bins = np.clip((flat.astype(np.int64) * n_bins) // 256, 0, n_bins - 1)
                hist = np.zeros((len(idx), n_bins), np.int64)
                rows = np.repeat(np.arange(len(idx)), flat.shape[1])
                np.add.at(hist, (rows, bins.ravel()), 1)
                for j, i in enumerate(idx):
                    mean[i], std[i], hists[i] = float(m[j]), float(s[j]), hist[j]
            yield pa.RecordBatch.from_pydict(
                {
                    "asset_id": batch.column("asset_id"),
                    "mean_px": mean,
                    "std_px": std,
                    "histogram": hists,
                    "error": errors,
                },
                schema=pa_schema,
            )

    return assets.select("asset_id", "blob").mapInArrow(run, FEATURE_SCHEMA)


def resize_assets(
    assets: DataFrame,
    out_h: int,
    out_w: int,
    decoder: Callable[[bytes], np.ndarray] = fake_decode,
) -> DataFrame:
    """Decode → resize → re-encode raw bytes; metadata updated in step.
    Narrow Arrow-batched stage, shape contract enforced by the schema.
    Corrupt blobs quarantine (null blob + ``error``), never fail the task."""
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("blob", T.BinaryType()),
            T.StructField("meta", META_TYPE),
            T.StructField("error", T.StringType()),
        ]
    )

    def resize(r: dict) -> Iterator[dict]:
        img, err = _decode_pixels(decoder, r["blob"])
        if err is not None:
            # meta stays null too: the input meta describes bytes this row
            # no longer carries (blob is null), so keeping it would
            # mislead downstream consumers of quarantined rows.
            yield {"asset_id": r["asset_id"], "error": err}
            return
        raw = resize_nearest(img, out_h, out_w).astype(np.uint8).tobytes()
        meta = {**(r["meta"] or {}), "width": out_w, "height": out_h, "n_bytes": len(raw)}
        yield {"asset_id": r["asset_id"], "blob": raw, "meta": meta}

    return _map_rows(assets, schema, resize)


def _tiled(raw: bytes, n: int) -> np.ndarray:
    """The first ``n`` of the bytes ``raw``, tiled if shorter (one zero
    byte stands in for empty ``raw``)."""
    b = np.frombuffer(raw, dtype=np.uint8) if raw else np.zeros(1, np.uint8)
    return np.tile(b, -(-n // len(b)))[:n]


def _block_image(vals: np.ndarray) -> np.ndarray:
    """16x16 grayscale image of four constant 8x8 blocks, valued
    ``vals[0..3]`` in row-major block order."""
    img = np.empty((16, 16), np.uint8)
    img[:8, :8], img[:8, 8:] = vals[0], vals[1]
    img[8:, :8], img[8:, 8:] = vals[2], vals[3]
    return img


def _encoded_assets(
    docs: DataFrame, encode: Callable[[int, bytes], tuple[bytes, int]], **meta
) -> DataFrame:
    """Demo asset table built per document: ``encode(doc_id, utf-8
    bytes)`` returns the blob and its frame count; ``meta`` holds the
    metadata fields every asset shares (mime, width, height,
    sample_rate). The same narrow stage a real ingest (bytes already
    encoded) would skip."""

    def asset(r: dict) -> Iterator[dict]:
        blob, n_frames = encode(r["doc_id"], r["text"].encode("utf-8"))
        meta_row = {**meta, "n_frames": n_frames, "n_bytes": len(blob)}
        yield {"asset_id": r["doc_id"], "blob": blob, "meta": meta_row}

    return _map_rows(docs.select("doc_id", "text"), ASSET_SCHEMA, asset)


_AUDIO_TILE = 256  # frames per synthesized demo clip
_AUDIO_RATE = 16000


def documents_as_audio_assets(docs: DataFrame) -> DataFrame:
    """Demo audio-asset table: each document's utf-8 bytes tiled into
    ``_AUDIO_TILE`` int16 PCM samples (``(byte - 128) * 256``) and encoded
    through the REAL WAV codec."""
    from xarray_beam_spark.sources.wav import encode_wav

    def clip(_doc_id: int, raw: bytes) -> tuple[bytes, int]:
        s = (_tiled(raw, _AUDIO_TILE).astype(np.int16) - 128) * 256
        return encode_wav(s, _AUDIO_RATE), _AUDIO_TILE

    return _encoded_assets(
        docs, clip, mime="audio/wav", width=0, height=0, sample_rate=_AUDIO_RATE
    )


_JPEG_BLOCKS = 4  # 16x16 gray image = 4 constant 8x8 blocks


def _block_jpeg_assets(docs: DataFrame, encoder: Callable) -> DataFrame:
    """One constant-block 16x16 JPEG per document (see
    :func:`documents_as_jpeg_assets`), serialized by ``encoder``."""

    def jpeg(_doc_id: int, raw: bytes) -> tuple[bytes, int]:
        img = _block_image(_tiled(raw, _JPEG_BLOCKS))
        return encoder(img, quality=100, subsample=False), 1

    return _encoded_assets(
        docs, jpeg, mime="image/jpeg", width=16, height=16, sample_rate=0
    )


def documents_as_jpeg_assets(docs: DataFrame) -> DataFrame:
    """Demo JPEG-asset table: each document becomes a 16x16 grayscale
    JPEG of four constant 8x8 blocks whose values are the document's
    first ``_JPEG_BLOCKS`` utf-8 bytes (tiled if shorter), encoded with
    the REAL from-spec baseline encoder (``sources/jpeg.py``) at
    quality 100.

    Constant blocks are the one image family baseline JPEG round-trips
    LOSSLESSLY (a constant block's FDCT is DC-only; at quality 100 the
    DC quantizer is 1, so dequant+IDCT reproduces the value bit-exactly)
    — which is what lets the feature gate be value-hash-certified against
    a SQL oracle despite JPEG being a lossy codec."""
    from xarray_beam_spark.sources.jpeg import encode_jpeg

    return _block_jpeg_assets(docs, encode_jpeg)


def documents_as_bmp_assets(docs: DataFrame) -> DataFrame:
    """Demo BMP-asset table: each document becomes a 16x16 grayscale BMP
    whose 256 pixels are the document's first 256 utf-8 bytes (tiled if
    shorter), through the from-spec encoder (``sources/bmp.py``). BMP is
    lossless, so unlike the constant-block JPEG family no special image
    structure is needed for the feature gate to value-hash-certify."""
    from xarray_beam_spark.sources.bmp import encode_bmp

    def bmp(_doc_id: int, raw: bytes) -> tuple[bytes, int]:
        return encode_bmp(_tiled(raw, 256).reshape(16, 16)), 1

    return _encoded_assets(
        docs, bmp, mime="image/bmp", width=16, height=16, sample_rate=0
    )


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


def audio_features(
    assets: DataFrame,
    decoder: Callable[[bytes], tuple[np.ndarray, int]] = decode_audio,
) -> DataFrame:
    """Decode + per-clip audio features (duration, RMS, peak amplitude,
    zero-crossing count) — the triage scan an audio-training pipeline runs
    before expensive resampling/transcription. One ``mapInArrow`` stage,
    REAL WAV decode by default; multi-channel clips are analyzed on the
    channel-mean mixdown. No shuffle anywhere. Corrupt clips are
    quarantined per asset (null features + ``error`` column), never
    failing the task."""

    def features(r: dict) -> Iterator[dict]:
        out, err = _quarantine(decoder, r["blob"])
        if err is not None:
            yield {"asset_id": r["asset_id"], "error": err}
            return
        samples, rate = out
        s = samples.astype(np.float64)
        mono = s[:, 0] if s.shape[1] == 1 else s.mean(axis=1)
        n = len(mono)
        neg = mono < 0
        yield {
            "asset_id": r["asset_id"],
            "n_frames": n,
            "duration_s": n / rate if rate else None,
            "rms": float(np.sqrt((mono * mono).sum() / n)) if n else None,
            "peak": int(np.abs(mono).max()) if n else 0,
            "zero_crossings": int((neg[1:] != neg[:-1]).sum()),
        }

    return _map_rows(assets.select("asset_id", "blob"), AUDIO_FEATURE_SCHEMA, features)


VIDEO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("frame_deltas", T.ArrayType(T.DoubleType())),
        T.StructField("error", T.StringType()),
    ]
)


def video_frame_features(
    assets: DataFrame,
    decoder: Callable[[bytes], np.ndarray] = decode_video,
) -> DataFrame:
    """Decode + per-clip frame statistics (count, dimensions, mean luma,
    mean absolute inter-frame delta) — the triage pass a video-training
    pipeline runs to drop static/black clips before expensive sampling.
    One ``mapInArrow`` stage, REAL GIF decode by default. No shuffle."""

    def features(r: dict) -> Iterator[dict]:
        out, err = _quarantine(decoder, r["blob"])
        if err is not None:
            yield {"asset_id": r["asset_id"], "error": err}
            return
        frames = out.astype(np.float64)
        deltas = (
            np.abs(np.diff(frames, axis=0)).mean(axis=(1, 2, 3))
            if frames.shape[0] > 1
            else np.zeros(0)
        )
        yield {
            "asset_id": r["asset_id"],
            "n_frames": frames.shape[0],
            "height": frames.shape[1],
            "width": frames.shape[2],
            "mean_luma": float(frames.mean()),
            "frame_deltas": deltas,
        }

    return _map_rows(assets.select("asset_id", "blob"), VIDEO_FEATURE_SCHEMA, features)


# ---------------------------------------------------------------------------
# gate queries
# ---------------------------------------------------------------------------

_META_ORACLE = """
SELECT source,
       COUNT(*) AS n_assets,
       CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes,
       CAST(SUM(strlen(text) // 64) AS BIGINT) AS total_frames
FROM documents GROUP BY source
"""


@_register("multimodal_meta_rollup", _META_ORACLE)
def multimodal_meta_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata aggregation over the asset table — the catalog scan
    a multimodal pipeline runs before deciding what to decode. All
    JVM-side; the blob column is never touched (column pruning: the
    parquet scan must not read it)."""
    docs = load(spark, sf_dir, "documents")
    assets = documents_as_assets(docs).join(
        docs.select(F.col("doc_id").alias("asset_id"), "source"), on="asset_id"
    )
    return assets.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        F.max(F.col("meta.n_bytes")).alias("max_bytes"),
        F.sum(F.col("meta.n_frames").cast("long")).alias("total_frames"),
    )


# The fake decoder tiles the utf-8 bytes of the doc into a 64-pixel image,
# so every feature is exact integer-derived arithmetic the oracle can
# reproduce: mean = Σpx/64 (exact: integer sum, /2^6), std via explicit
# two-pass mean-of-squared-deviations (all quantities exactly representable:
# px-mean has a 1/64-granular fraction, its square ≤ 28 mantissa bits), and
# bin0 = #px < 16. Writing the oracle's std EXPLICITLY (not stddev_pop,
# which is Welford-accumulated) keeps both engines bit-identical.
_FEATURES_ORACLE = """
WITH px AS (
  SELECT doc_id AS asset_id,
         list_transform(range(1, 65),
           i -> CAST(ascii(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1)) AS DOUBLE)) AS p
  FROM documents
), m AS (
  SELECT asset_id, p, list_sum(p) / 64.0 AS mean_px FROM px
)
SELECT asset_id, mean_px,
       sqrt(list_sum(list_transform(p, x -> (x - mean_px) * (x - mean_px))) / 64.0) AS std_px,
       CAST(len(list_filter(p, x -> x < 16)) AS BIGINT) AS bin0
FROM m
"""


# The demo clip tiles the utf-8 bytes into 256 int16 samples
# ((byte - 128) * 256), so every feature is exact integer-derived
# arithmetic the oracle reproduces: Σs² ≤ 2^38 (exactly representable),
# /256 exact, one IEEE sqrt; peak and zero-crossing counts are pure
# integer. Both engines are bit-identical by construction.
_AUDIO_ORACLE = """
WITH px AS (
  SELECT doc_id AS asset_id,
         list_transform(range(1, 257),
           i -> (CAST(ascii(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1)) AS BIGINT) - 128) * 256) AS s
  FROM documents
)
SELECT asset_id,
       CAST(256 AS BIGINT) AS n_frames,
       sqrt(list_sum(list_transform(s, x -> CAST(x * x AS DOUBLE))) / 256.0) AS rms,
       CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak,
       CAST(len(list_filter(range(2, 257), i -> (s[i - 1] < 0) != (s[i] < 0))) AS BIGINT) AS zero_crossings
FROM px
"""


@_register("multimodal_audio_features", _AUDIO_ORACLE)
def multimodal_audio_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode + feature extraction: every document becomes a
    WAV clip through the from-spec encoder, then :func:`audio_features`
    decodes it back with the from-spec parser and computes RMS / peak /
    zero-crossings — value-checked against an oracle that re-derives the
    synthesized samples and the exact same arithmetic in SQL."""
    docs = load(spark, sf_dir, "documents")
    assets = documents_as_audio_assets(docs)
    feats = audio_features(assets)
    return feats.select("asset_id", "n_frames", "rms", "peak", "zero_crossings")


# Each asset is four constant 8x8 blocks (values = first 4 utf-8 bytes,
# tiled), so after the LOSSLESS quality-100 round-trip the 256 pixels are
# 64 copies of each byte: mean has a /4 fraction (exact in binary), the
# squared deviations have /16 fractions (exact), one IEEE sqrt — both
# engines bit-identical. bin0 = 64 * #bytes < 16.
_JPEG_FEATURES_ORACLE = """
WITH px AS (
  SELECT doc_id AS asset_id,
         list_transform(range(1, 5),
           i -> CAST(ascii(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1)) AS DOUBLE)) AS b
  FROM documents
), m AS (
  SELECT asset_id, b, list_sum(b) / 4.0 AS mean_px FROM px
)
SELECT asset_id, mean_px,
       sqrt(list_sum(list_transform(b, x -> (x - mean_px) * (x - mean_px))) / 4.0) AS std_px,
       CAST(64 * len(list_filter(b, x -> x < 16)) AS BIGINT) AS bin0
FROM m
"""


@_register("multimodal_jpeg_features", _JPEG_FEATURES_ORACLE)
def multimodal_jpeg_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG encode + decode + feature extraction: every document
    becomes a baseline JPEG through the from-spec encoder, then
    :func:`decode_image` parses it back (Huffman + dequant + IDCT) and
    features are value-checked against an oracle that re-derives the
    constant-block pixels exactly in SQL (see
    :func:`documents_as_jpeg_assets` for why this lossy codec admits an
    exact oracle here)."""
    docs = load(spark, sf_dir, "documents")
    # the local fixture is one parquet row-group = one partition, which
    # would serialize the per-doc codec work; a real corpus has many
    # files and skips this (values are partition-independent)
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    assets = documents_as_jpeg_assets(docs)
    feats = extract_features(assets, decoder=decode_image)
    return feats.select(
        "asset_id",
        "mean_px",
        "std_px",
        F.element_at("histogram", 1).alias("bin0"),
    )


# Exact by integer sums + power-of-two divisions: 256 byte-valued pixels,
# mean = int/256 (dyadic), squared deviations carry <= 16 fractional bits
# in < 2^16 magnitudes — every step representable in float64, so numpy's
# pairwise and SQL's sequential summation agree bit for bit.
_BMP_FEATURES_ORACLE = """
WITH px AS (
  SELECT doc_id AS asset_id,
         list_transform(range(1, 257),
           i -> CAST(ascii(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1)) AS DOUBLE)) AS b
  FROM documents
  WHERE strlen(text) > 0 AND strlen(text) = length(text)
), m AS (
  SELECT asset_id, b, list_sum(b) / 256.0 AS mean_px FROM px
)
SELECT asset_id, mean_px,
       sqrt(list_sum(list_transform(b, x -> (x - mean_px) * (x - mean_px))) / 256.0) AS std_px,
       CAST(len(list_filter(b, x -> x < 16)) AS BIGINT) AS bin0
FROM m
"""


@_register("multimodal_bmp_features", _BMP_FEATURES_ORACLE)
def multimodal_bmp_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP encode + decode + feature extraction: every document
    becomes an 8 bpp grayscale BMP through the from-spec encoder,
    :func:`decode_image` parses it back (palette + stride + bottom-up
    rows), and the features certify against an oracle that re-derives
    the 256 pixel bytes exactly in SQL (lossless codec — no structural
    constraints needed, unlike the constant-block JPEG family)."""
    docs = load(spark, sf_dir, "documents")
    # The oracle tiles CHARACTERS (ascii(substr(..))) while the asset
    # builder tiles UTF-8 BYTES, and its %-tiling breaks on empty text —
    # restrict BOTH sides to non-empty pure-ASCII documents (a no-op on
    # the synthetic corpus, but the gate no longer leans on that).
    docs = docs.where(
        (F.octet_length("text") > 0)
        & (F.octet_length("text") == F.length("text"))
    )
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    assets = documents_as_bmp_assets(docs)
    feats = extract_features(assets, decoder=decode_image)
    return feats.select(
        "asset_id",
        "mean_px",
        "std_px",
        F.element_at("histogram", 1).alias("bin0"),
    )


_JPEG_PROG_ORACLE = """
WITH px AS (
  SELECT doc_id AS asset_id,
         list_transform(range(1, 5),
           i -> CAST(ascii(substr(text, CAST(((i - 1) % length(text)) + 1 AS INT), 1)) AS DOUBLE)) AS b
  FROM documents WHERE doc_id % 4 = 0
), m AS (
  SELECT asset_id, b, list_sum(b) / 4.0 AS mean_px FROM px
)
SELECT asset_id, mean_px,
       sqrt(list_sum(list_transform(b, x -> (x - mean_px) * (x - mean_px))) / 4.0) AS std_px,
       CAST(64 * len(list_filter(b, x -> x < 16)) AS BIGINT) AS bin0
FROM m
"""


@_register("multimodal_jpeg_progressive_features", _JPEG_PROG_ORACLE)
def multimodal_jpeg_progressive_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG encode + decode + feature extraction: the
    same constant-block image family as :func:`multimodal_jpeg_features`
    but serialized through :func:`encode_jpeg_progressive` (spectral
    selection + successive approximation) and decoded by the progressive
    entropy path — the exact oracle carries over because both encoders
    quantize identically and the constant-block family is lossless at
    quality 100. Runs on a 25% document sample: the multi-scan Python
    codec is ~3x the baseline's per-asset cost (values per asset are
    sample-independent)."""
    from xarray_beam_spark.sources.jpeg import encode_jpeg_progressive

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 0)
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    assets = _block_jpeg_assets(docs, encode_jpeg_progressive)
    feats = extract_features(assets, decoder=decode_image)
    return feats.select(
        "asset_id",
        "mean_px",
        "std_px",
        F.element_at("histogram", 1).alias("bin0"),
    )


@_register("multimodal_features", _FEATURES_ORACLE)
def multimodal_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature extraction over every asset (deterministic fake
    decoder) — value-checked: the oracle re-derives the tiled-byte image
    and its exact mean/std/histogram-bin arithmetic in SQL."""
    docs = load(spark, sf_dir, "documents")
    assets = documents_as_assets(docs)
    feats = extract_features(assets)
    return feats.select(
        "asset_id",
        "mean_px",
        "std_px",
        F.element_at("histogram", 1).alias("bin0"),
    )


_WDS_ORACLE = """
SELECT doc_id, text, lang, source, n_chars,
       CAST(strlen(text) AS BIGINT) AS bin_bytes
FROM documents
"""


@_register("multimodal_wds_roundtrip", _WDS_ORACLE)
def multimodal_wds_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → WebDataset tar shards → read back: the multimodal
    sample-archive leg (tar members ``{key}.{ext}``, the layout open
    multimodal training stacks stream). Each sample carries three member
    types — utf-8 text (``txt``), canonical JSON metadata (``json``),
    and a raw binary leg (``bin``, the utf-8 bytes of the text, so its
    read-back length is oracle-checkable as strlen) — certifying all
    three serializers plus key round-tripping document-exactly. NULL
    text exercises the sparse-sample path (missing members → NULL)."""
    from xarray_beam_spark.grid_queries import _materialized
    from xarray_beam_spark.sources import webdataset

    def build(p: str) -> None:
        docs = load(spark, sf_dir, "documents")
        samples = docs.select(
            F.format_string("%012d", F.col("doc_id")).alias(webdataset.KEY_COL),
            F.col("text").alias("txt"),
            F.struct("lang", "source", "n_chars").alias("meta"),
            F.encode("text", "UTF-8").alias("bin"),
        )
        webdataset.write_webdataset(
            samples.repartition(8, webdataset.KEY_COL),
            p,
            ext_map={"meta": "json"},
            shard_records=128,
        )

    path = _materialized(spark, sf_dir, "wds", build)
    back = webdataset.read_webdataset(spark, path)
    return back.select(
        F.col(webdataset.KEY_COL).cast("long").alias("doc_id"),
        F.col("txt").alias("text"),
        F.col("meta.lang").alias("lang"),
        F.col("meta.source").alias("source"),
        F.col("meta.n_chars").alias("n_chars"),
        F.octet_length("bin").cast("long").alias("bin_bytes"),
    )


# ---------------------------------------------------------------------------
# MP4 (Motion-JPEG) video column — the last multimodal modality
# ---------------------------------------------------------------------------

def documents_as_mp4_assets(docs: DataFrame) -> DataFrame:
    """Demo video-asset table: each document becomes a Motion-JPEG MP4 of
    ``2 + doc_id % 3`` frames (25 fps) through the from-spec ISO BMFF
    muxer (``sources/mp4.py``). Frame ``k`` is the same lossless
    constant-block 16x16 JPEG family as :func:`documents_as_jpeg_assets`
    with block values taken from the document's utf-8 bytes at offsets
    ``4k..4k+3`` (tiled) — which is what lets the frame-feature gate be
    value-hash-certified despite JPEG being lossy. ASCII-only non-empty
    docs (bytes == chars) so the SQL oracle's character indexing agrees
    with the builder's byte indexing."""
    from xarray_beam_spark.sources.jpeg import encode_jpeg
    from xarray_beam_spark.sources.mp4 import mux_mjpeg

    def mp4(doc_id: int, raw: bytes) -> tuple[bytes, int]:
        n_frames = 2 + doc_id % 3
        vals = _tiled(raw, _JPEG_BLOCKS * n_frames).reshape(n_frames, _JPEG_BLOCKS)
        frames = [encode_jpeg(_block_image(v), quality=100, subsample=False) for v in vals]
        return mux_mjpeg(frames, 16, 16, fps=25), n_frames

    return _encoded_assets(
        docs, mp4, mime="video/mp4", width=16, height=16, sample_rate=0
    )


_MP4_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("pts_ms", T.LongType()),
        T.StructField("mean_px", T.DoubleType()),
    ]
)


def mp4_frame_features(
    assets: DataFrame, every_k: int = 1, max_frames: int | None = None
) -> DataFrame:
    """Frame-sample a binary MP4 column: demux (codec-agnostic table
    arithmetic), decode each kept frame (real for MJPEG), and emit one
    row per frame with its presentation time and mean luma. The video
    analog of :func:`extract_features` — one ``mapInArrow`` stage,
    row-local, no shuffle; ``every_k``/``max_frames`` are the standard
    frame-sampling knobs a training pipeline exposes."""
    from xarray_beam_spark.sources import mp4

    def frames(r: dict) -> Iterator[dict]:
        blob = r["blob"]
        info = mp4.demux_video(blob)
        scale = info["timescale"]
        for i, (dts, sample) in enumerate(
            mp4.extract_frames(blob, every_k=every_k, max_frames=max_frames, info=info)
        ):
            img = mp4.decode_frame(info["codec"], sample)
            yield {
                "asset_id": r["asset_id"],
                "frame_idx": i * every_k,
                "pts_ms": dts * 1000 // scale,
                "mean_px": float(img.astype(np.float64).mean()),
            }

    return _map_rows(assets.select("asset_id", "blob"), _MP4_FRAME_SCHEMA, frames)


# Same exactness argument as the JPEG gate: constant 8x8 blocks round-trip
# losslessly at quality 100, the 16x16 mean is (b0+b1+b2+b3)/4 — a dyadic
# fraction, bit-identical in both engines. pts is integer ms at 25 fps.
_MP4_FRAMES_ORACLE = """
WITH docs AS (
  SELECT doc_id, text, 2 + doc_id % 3 AS n_frames FROM documents
  WHERE strlen(text) > 0 AND strlen(text) = length(text)
), frames AS (
  SELECT doc_id, text, CAST(k AS BIGINT) AS frame_idx
  FROM docs, UNNEST(range(0, n_frames)) AS u(k)
)
SELECT doc_id AS asset_id, frame_idx, frame_idx * 40 AS pts_ms,
       list_sum(list_transform(range(0, 4),
         j -> CAST(ascii(substr(text,
               CAST(((4 * frame_idx + j) % length(text)) + 1 AS INT), 1)) AS DOUBLE)
       )) / 4.0 AS mean_px
FROM frames
"""


@_register("multimodal_mp4_frames", _MP4_FRAMES_ORACLE)
def multimodal_mp4_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video pipeline end to end: documents become Motion-JPEG MP4s
    through the from-spec ISO BMFF muxer, then :func:`mp4_frame_features`
    demuxes the sample tables (stsc/stco/stsz/stts arithmetic), decodes
    every frame with the from-spec JPEG decoder, and emits per-frame
    presentation times + mean luma — value-hash-certified against an
    oracle that re-derives the constant-block pixels and 25 fps timing
    exactly in SQL. Closes the one multimodal modality (video) the
    engine previously stubbed."""
    docs = load(spark, sf_dir, "documents")
    docs = docs.where(
        (F.octet_length("text") > 0)
        & (F.octet_length("text") == F.length("text"))
    )
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    assets = documents_as_mp4_assets(docs)
    return mp4_frame_features(assets)
