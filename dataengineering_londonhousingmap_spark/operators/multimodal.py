"""Multimodal column plumbing — image/audio/video as opaque binary columns.

The Spark-side machinery here is real and tested: typed schemas for binary
payloads + metadata, Arrow-batched ``mapInPandas`` operators with correct
batch shapes and partitioning, deterministic synthesis of binary fixtures.
The codec step is REAL for uncompressed formats (round 8): a dependency-free
binary Netpbm codec (:func:`encode_pgm` / :func:`decode_image` — PGM ``P5``
grayscale, PPM ``P6`` RGB) runs the synthesize → decode → resize path end to
end with no image library; :func:`synthesize_media` ``wrap='pgm'`` emits
genuine decodable images. Compressed formats (JPEG/PNG/…) remain behind an
optional PIL import and raise ``NotImplementedError`` without it — the one
documented stub left in this module.

At 100 TB the load-bearing decisions are exactly the ones exercised here:
  * binary payloads travel in Arrow record batches (zero-copy into pandas),
  * per-batch (not per-row) Python execution via ``mapInPandas``,
  * metadata (width/height/codec/duration) is columnar and filterable
    WITHOUT touching bytes — predicate pushdown on metadata prunes the
    payload scan (Parquet column pruning skips the binary column entirely
    for metadata-only queries),
  * partition sizing by byte budget, not row count
    (``repartition_by_bytes``).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# typed media-asset schema: payload + queryable metadata
MEDIA_ASSET = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("codec", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

IMAGE_FEATURES = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("byte_mean", T.DoubleType(), False),
        T.StructField("byte_histogram", T.ArrayType(T.IntegerType()), False),
        T.StructField("content_md5", T.StringType(), False),
    ]
)


def synthesize_media(df: DataFrame, id_col: str, seed_col: str, wrap: str = "raw") -> DataFrame:
    """Deterministic binary fixtures: payload = repeated md5 bytes of the
    seed column; metadata derived from the id. Lets the full binary path
    (schema → shuffle → Arrow → pandas) run without any codec library.

    ``wrap='pgm'`` emits each payload as a REAL image: the same 128
    md5-repeat bytes as the pixel data of a binary PGM (``P5``, 16×8,
    header prepended JVM-side as a binary literal), so downstream stages
    exercise an actual header-parse + decode (:func:`decode_image`)
    instead of raw byte math — while the pixel matrix, and therefore any
    pixel-derived oracle value, is unchanged."""
    # concat of 8 binary copies (128 bytes); F.repeat is string-typed and
    # would mangle the bytes through a charset round-trip
    digest = F.unhex(F.md5(F.col(seed_col)))
    payload = F.concat(*[digest] * 8)
    if wrap == "pgm":
        payload = F.concat(F.lit(b"P5\n16 8\n255\n"), payload)
        codec, width, height = (
            F.lit("pgm"),
            F.lit(16).cast("int"),
            F.lit(8).cast("int"),
        )
    elif wrap == "raw":
        codec = F.lit("fake")
        width = (F.col(id_col) % 1920 + 1).cast("int")
        height = (F.col(id_col) % 1080 + 1).cast("int")
    else:
        raise ValueError(f"unknown wrap {wrap!r}: expected 'raw' or 'pgm'")
    return df.select(
        F.col(id_col).alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("media_type"),
        codec.alias("codec"),
        width.alias("width"),
        height.alias("height"),
        (F.col(id_col) % 60000).cast("int").alias("duration_ms"),
        payload.alias("payload"),
    )


try:  # PIL extends coverage to compressed formats when installed
    from PIL import Image as _PILImage  # type: ignore
except ImportError:  # pragma: no cover - environment-dependent
    _PILImage = None


def encode_pgm(matrix) -> bytes:
    """Encode a row-major 8-bit grayscale matrix (list of equal-length int
    rows, values 0..255) as a binary PGM (Netpbm ``P5``) image — the
    simplest REAL image format: an ASCII header then raw pixel bytes.
    Dependency-free by design: the engine's synthesized media fixtures are
    genuine decodable images without PIL in the container."""
    h = len(matrix)
    w = len(matrix[0]) if h else 0
    if any(len(row) != w for row in matrix):
        raise ValueError("ragged pixel matrix")
    body = bytes(v for row in matrix for v in row)
    return f"P5\n{w} {h}\n255\n".encode("ascii") + body


def _parse_netpbm(payload: bytes) -> list[list[int]]:
    """Binary Netpbm decode: P5 (grayscale) and P6 (RGB, folded to
    grayscale by integer luma (299·R + 587·G + 114·B) // 1000 — a
    deterministic fixed-point BT.601, no float round-trip). Header is
    ASCII tokens (width, height, maxval) with ``#`` comments, then ONE
    whitespace byte, then raw pixel data."""
    magic = payload[:2]
    pos = 2
    tokens: list[int] = []
    while len(tokens) < 3:
        # skip whitespace and comments
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit Netpbm samples not supported")
    ch = 1 if magic == b"P5" else 3
    need = w * h * ch
    data = payload[pos : pos + need]
    if len(data) < need:
        raise ValueError(
            f"truncated Netpbm payload: need {need} pixel bytes, got {len(data)}"
        )
    if ch == 1:
        return [list(data[r * w : (r + 1) * w]) for r in range(h)]
    return [
        [
            (299 * data[(r * w + c) * 3]
             + 587 * data[(r * w + c) * 3 + 1]
             + 114 * data[(r * w + c) * 3 + 2]) // 1000
            for c in range(w)
        ]
        for r in range(h)
    ]


def decode_image(payload: bytes, fake: bool = False) -> list[list[int]]:
    """Decode an image payload to pixel rows (grayscale ints 0..255).

    Real, dependency-free path: binary Netpbm — PGM ``P5`` (grayscale)
    and PPM ``P6`` (RGB → integer-luma grayscale) — decoded with pure
    Python (:func:`_parse_netpbm`); this covers the engine's own
    synthesized media (:func:`synthesize_media` with ``wrap='pgm'``) end
    to end with no codec library. Other formats fall back to PIL when
    installed; compressed formats without PIL raise ``NotImplementedError``
    (the one documented stub left). The ``fake=True`` path is the legacy
    deterministic stand-in — 2×2 "pixels" from the payload's first bytes.
    """
    if fake:
        b = payload or b"\x00\x00\x00\x00"
        return [[b[0], b[1]], [b[2] if len(b) > 2 else 0, b[3] if len(b) > 3 else 0]]
    if payload[:2] in (b"P5", b"P6"):
        return _parse_netpbm(payload)
    if _PILImage is None:
        raise NotImplementedError(
            "compressed image codecs not available in this environment; "
            "install pillow (PIL), or supply binary PGM/PPM payloads "
            "(decoded natively)"
        )
    import io

    img = _PILImage.open(io.BytesIO(payload)).convert("L")
    w, h = img.size
    px = list(img.getdata())
    return [px[r * w : (r + 1) * w] for r in range(h)]


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    ``mapInPandas`` — the canonical multimodal operator shape. The feature
    fn itself is trivially replaceable with a real model/codec call; the
    batching, schema, and shuffle behavior are what matter.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                hist = [0] * 8
                for byte in b:
                    hist[byte >> 5] += 1
                out.append(
                    {
                        "asset_id": asset_id,
                        "n_bytes": len(b),
                        "byte_mean": (sum(b) / len(b)) if b else 0.0,
                        "byte_histogram": hist,
                        "content_md5": hashlib.md5(b).hexdigest(),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in IMAGE_FEATURES.fields])

    # NB: no blanket repartition here — shuffling binary payloads costs more
    # than the per-batch python work saves; use repartition_by_bytes when
    # real payloads make the work worth spreading
    return assets.select("asset_id", "payload").mapInPandas(_extract, IMAGE_FEATURES)


def repartition_by_bytes(assets: DataFrame, target_partition_mb: int = 128, est_row_bytes: int | None = None) -> DataFrame:
    """Partition-size by byte budget: binary rows are orders of magnitude
    wider than relational rows, so row-count-based defaults overload
    executors. Estimates bytes/row (metadata + payload length) if not given
    and repartitions so each partition ≈ target MB."""
    if est_row_bytes is None:
        sample = assets.select(
            (F.coalesce(F.length("payload"), F.lit(0)) + 64).alias("sz")
        ).agg(F.avg("sz").alias("avg_sz"), F.count("*").alias("n")).collect()[0]
        est_row_bytes = int(sample["avg_sz"] or 1)
        n_rows = int(sample["n"])
    else:
        n_rows = assets.count()
    total = est_row_bytes * n_rows
    parts = max(1, total // (target_partition_mb * 1024 * 1024))
    return assets.repartition(int(parts))


RESIZED = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("out_w", T.IntegerType(), False),
        T.StructField("out_h", T.IntegerType(), False),
        T.StructField("resized_mean", T.DoubleType(), False),
    ]
)


# 4×4 thumbnails; a non-image payload is read as the 16-wide × 8-high byte
# matrix that synthesize_media's raw fixtures carry
_OUT_W = _OUT_H = 4
_SRC_W, _SRC_H = 16, 8


def resize_images(assets: DataFrame) -> DataFrame:
    """Nearest-neighbour 4×4 resize over binary payloads via
    ``mapInPandas`` — the decode → transform → summarize shape of a real
    thumbnailing stage.

    Decode step: a payload that IS an image (binary PGM/PPM magic, the
    format :func:`synthesize_media` ``wrap='pgm'`` emits) goes through the
    real dependency-free decoder (:func:`decode_image` — header parse,
    dimensions from the image itself); anything else is interpreted as a
    raw 8×16 byte matrix (the legacy fixture layout; a NULL payload
    zero-fills). Either way the kernel is one vectorized numpy
    index-gather per image inside Arrow batches — no per-pixel Python —
    with a typed output schema."""
    import numpy as np

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                if b[:2] in (b"P5", b"P6"):
                    m = np.asarray(decode_image(b), dtype=np.uint8)
                    h, w = m.shape
                else:
                    if len(b) < _SRC_W * _SRC_H:
                        b = b.ljust(_SRC_W * _SRC_H, b"\x00")
                    m = np.frombuffer(b[: _SRC_W * _SRC_H], dtype=np.uint8).reshape(
                        _SRC_H, _SRC_W
                    )
                    h, w = _SRC_H, _SRC_W
                ri = (np.arange(_OUT_H) * h) // _OUT_H
                ci = (np.arange(_OUT_W) * w) // _OUT_W
                resized = m[np.ix_(ri, ci)]
                rows.append(
                    {
                        "asset_id": asset_id,
                        "out_w": _OUT_W,
                        "out_h": _OUT_H,
                        "resized_mean": float(resized.mean()),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED.fields])

    return assets.select("asset_id", "payload").mapInPandas(_resize, RESIZED)


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explode each video asset into the frame
    timestamps a decoder would extract (the decode itself is the stub).
    Demonstrates the explode-then-decode shape where frame extraction
    parallelizes across the cluster rather than per-file."""
    frames = F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
    return (
        assets.filter(F.col("media_type") == "video")
        .select("asset_id", "duration_ms", F.explode(frames).alias("frame_ts_ms"))
    )


PCM_FRAMES = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("energy", T.LongType(), False),
        T.StructField("mean_amp", T.DoubleType(), False),
    ]
)


_PCM_BLOCKS = 8
_FRAME_BYTES = 16  # one md5 digest per frame


def synthesize_pcm(df: DataFrame, id_col: str, seed_col: str) -> DataFrame:
    """Deterministic fake PCM audio: payload = 8 CONCATENATED
    md5 digests of (seed || '|' || block_idx) — unlike
    :func:`synthesize_media`'s repeated single digest, every 16-byte frame
    is distinct, so frame-level operators produce non-degenerate output.
    Bytes are md5-derived, so an engine-independent oracle can re-derive
    every sample value from hex arithmetic alone."""
    payload = F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col(seed_col), F.lit(f"|{k}"))))
            for k in range(_PCM_BLOCKS)
        ]
    )
    return df.filter(F.col(seed_col).isNotNull()).select(
        F.col(id_col).alias("asset_id"),
        F.lit("pcm_u8").alias("codec"),
        F.lit(8000).alias("sample_rate"),
        payload.alias("payload"),
    )


def frame_energy(assets: DataFrame) -> DataFrame:
    """Per-16-byte-frame audio energy/mean over unsigned-8-bit PCM
    payloads — the audio leg of the multimodal surface (silence trimming,
    VAD windowing, loudness normalization all start from exactly this
    frame scan). One
    numpy reshape+sum per Arrow batch (``mapInPandas``); integer-exact
    energies, so the query carries an exact hex-math SQL oracle."""
    import numpy as np

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_frames = len(b) // _FRAME_BYTES
                fr = b[: n_frames * _FRAME_BYTES].reshape(n_frames, _FRAME_BYTES).astype(np.int64)
                energy = (fr * fr).sum(axis=1)
                mean = fr.sum(axis=1) / float(_FRAME_BYTES)
                for i in range(n_frames):
                    out.append(
                        {
                            "asset_id": asset_id,
                            "frame_idx": i,
                            "energy": int(energy[i]),
                            "mean_amp": float(mean[i]),
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in PCM_FRAMES.fields])

    return assets.select("asset_id", "payload").mapInPandas(_frames, PCM_FRAMES)
