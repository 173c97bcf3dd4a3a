"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Media (image/audio/video) travel as ``binary`` columns with a typed metadata
struct; decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages. Decode modes:

* ``"real"`` — actual pixel decode: PIL when importable (any format, C
  speed), else the built-in pure-Python PNG codec (functions/png.py) for
  ``image/png``; rows that fail to decode get a per-row ``error:`` status
  instead of failing the task. Features are dim-bin normalized grayscale
  histograms over the decoded pixels; resize is deterministic
  nearest-neighbor re-encoded as PNG.
* ``"fake"`` — deterministic hash-derived outputs with the same schema /
  batch shapes, kept as the oracle-checkable mode (a DuckDB oracle can
  recompute md5-derived values; it cannot decode PNGs).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("decode_status", T.StringType()),
    ]
)


def media_table_from_documents(docs: DataFrame) -> DataFrame:
    """Extract media spans from the interleaved documents table into the
    typed media table; payload synthesized deterministically from the ref
    (a real crawler would fill ``content`` from the fetch response)."""
    media = docs.select(
        "doc_id", F.explode("spans").alias("span")
    ).filter(F.col("span.kind") == "media")
    return media.select(
        "doc_id",
        F.col("span.media_ref").alias("media_ref"),
        F.lit("image").alias("kind"),
        F.encode(F.col("span.media_ref"), "utf-8").cast("binary").alias("content"),
        F.struct(
            F.lit("image/png").alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def _fake_feature(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic pseudo-feature from the payload hash (stand-in for a
    real decode+embed kernel; same shape/dtype contract).

    Per-dimension kernel is the repo's md5-56bit hash (functions/hashes.py)
    of ``payload || ':' || dim`` scaled to [-1, 1) — cross-engine
    reproducible, so a DuckDB oracle can recompute the exact values:
      CAST(('0x' || substr(md5(t || ':' || i), 1, 14)) AS BIGINT) / 2^56
    """
    vals = [
        int(hashlib.md5(payload + b":%d" % i).hexdigest()[:14], 16)
        / float(1 << 56)
        * 2.0
        - 1.0
        for i in range(dim)
    ]
    return np.asarray(vals, dtype=np.float32)


def _decode_image(payload: bytes, mime: str | None) -> np.ndarray:
    """Pixel decode: PIL when importable, else the built-in PNG codec.
    Raises (PngError/ValueError) on undecodable input — callers convert to
    a per-row error status, never a task failure."""
    try:
        import io

        from PIL import Image  # type: ignore

        return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    except ImportError:
        pass
    from ..functions.png import decode_png

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    raise ValueError(f"no codec available for mime {mime!r} without PIL")


def _histogram_feature(pixels: np.ndarray, dim: int) -> list[float]:
    """dim-bin normalized grayscale histogram — a real, deterministic
    fixed-length feature over decoded pixels (the classic color-histogram
    retrieval descriptor)."""
    from ..functions.png import grayscale

    gray = grayscale(pixels).ravel()
    hist, _ = np.histogram(gray, bins=dim, range=(0, 256))
    total = max(1, gray.size)
    return (hist.astype(np.float32) / np.float32(total)).tolist()


def decode_and_featurize(media: DataFrame, dim: int = 16, decode_mode: str = "fake") -> DataFrame:
    """mapInPandas decode → fixed-dim feature vector.

    decode_mode='real' decodes actual pixels (PIL or the built-in PNG
    codec) into a dim-bin grayscale histogram; a row that fails to decode
    yields feature=NULL with an ``error:`` status. decode_mode='fake' is
    the deterministic hash kernel (oracle-checkable cross-engine).
    """
    if decode_mode not in ("fake", "real"):
        raise ValueError(f"unknown decode_mode {decode_mode!r}")

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats: list = []
            status: list[str] = []
            if decode_mode == "fake":
                for c in pdf["content"]:
                    feats.append(
                        _fake_feature(bytes(c) if c is not None else b"", dim).tolist()
                    )
                    status.append("ok-fake")
            else:
                for c, m in zip(pdf["content"], pdf["meta"]):
                    mime = (m or {}).get("mime") if m is not None else None
                    try:
                        px = _decode_image(bytes(c) if c is not None else b"", mime)
                        feats.append(_histogram_feature(px, dim))
                        status.append("ok")
                    except Exception as e:  # per-row fail-loud status
                        feats.append(None)
                        status.append(f"error:{e}")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "feature": feats,
                    "decode_status": status,
                }
            )

    cols = ["doc_id", "media_ref", "content"] + (
        ["meta"] if decode_mode == "real" else []
    )
    return media.select(*cols).mapInPandas(_run, schema=FEATURES_SCHEMA)


def resize_images(
    media: DataFrame, width: int, height: int, decode_mode: str = "fake"
) -> DataFrame:
    """mapInPandas image resize: same media schema out, meta dims updated.

    decode_mode='real' decodes pixels (PIL or the built-in PNG codec),
    nearest-neighbor-resizes, and re-encodes as PNG (meta mime updated);
    undecodable rows pass through UNCHANGED except a size-0 marker is
    avoided — they keep their original content so no data is lost.
    'fake' keeps the Spark plumbing real — binary in/out, Arrow batches,
    meta struct rewrite — with a deterministic stand-in payload (md5-56bit
    of original content + target dims, sized w*h/64) so downstream stages
    see size-plausible bytes."""
    if decode_mode not in ("fake", "real"):
        raise ValueError(f"unknown decode_mode {decode_mode!r}")

    out_schema = MEDIA_SCHEMA

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.png import encode_png, resize_nearest

        for pdf in batches:
            n_bytes = max(1, (width * height) // 64)
            contents = []
            metas = []
            for c, m in zip(pdf["content"], pdf["meta"]):
                raw = bytes(c) if c is not None else b""
                meta = dict(m) if m is not None else {}
                if decode_mode == "real":
                    try:
                        px = _decode_image(raw, meta.get("mime"))
                        contents.append(encode_png(resize_nearest(px, width, height)))
                        meta["mime"] = "image/png"
                        meta["width"], meta["height"] = width, height
                    except Exception:
                        contents.append(raw)  # pass through undecodable rows
                else:
                    seed = hashlib.md5(
                        raw + b":%dx%d" % (width, height)
                    ).digest()
                    contents.append((seed * (n_bytes // len(seed) + 1))[:n_bytes])
                    meta["width"], meta["height"] = width, height
                metas.append(meta)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "content": contents,
                    "meta": metas,
                }
            )

    return media.mapInPandas(_run, schema=out_schema)


# ---- header-only metadata sniffing (no decode library, bytes-cheap) --------

_SNIFF_TYPE = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

# JPEG start-of-frame markers carrying dimensions (C0-CF minus DHT C4,
# JPG C8, DAC CC); standalone markers with no length segment
_JPEG_SOF = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}
_JPEG_STANDALONE = set(range(0xD0, 0xD8)) | {0xD8, 0x01}


def _sniff_one(b: bytes | None) -> tuple[str, int | None, int | None]:
    """(format, width, height) from container headers alone — PNG IHDR,
    GIF logical-screen descriptor, BMP info header, JPEG SOF scan. The
    scale point: dimension metadata over a 100 TB media corpus WITHOUT a
    pixel decode (and without PIL); undecodable/truncated payloads are
    ('unknown', None, None), never a task failure."""
    if not b:
        return ("unknown", None, None)
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
            return (
                "png",
                int.from_bytes(b[16:20], "big"),
                int.from_bytes(b[20:24], "big"),
            )
        if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            return (
                "gif",
                int.from_bytes(b[6:8], "little"),
                int.from_bytes(b[8:10], "little"),
            )
        if b[:2] == b"BM" and len(b) >= 26:
            return (
                "bmp",
                int.from_bytes(b[18:22], "little"),
                abs(int.from_bytes(b[22:26], "little", signed=True)),
            )
        if b[:2] == b"\xff\xd8":
            i = 2
            n = len(b)
            while i + 3 < n:
                if b[i] != 0xFF:
                    break
                while i < n and b[i] == 0xFF:  # fill bytes
                    i += 1
                if i >= n:
                    break
                marker = b[i]
                i += 1
                if marker in _JPEG_STANDALONE:
                    continue
                if i + 1 >= n:
                    break
                seg_len = int.from_bytes(b[i : i + 2], "big")
                if marker in _JPEG_SOF and i + 6 < n:
                    return (
                        "jpeg",
                        int.from_bytes(b[i + 5 : i + 7], "big"),
                        int.from_bytes(b[i + 3 : i + 5], "big"),
                    )
                if seg_len < 2:
                    break
                i += seg_len
            return ("jpeg", None, None)  # JPEG magic, no parseable SOF
    except Exception:
        pass
    return ("unknown", None, None)


def sniff_media_metadata(media: DataFrame, content_col: str = "content") -> DataFrame:
    """Per-row header-derived (format, width, height) appended to the media
    table — Arrow-batched; the payload bytes are already columnar, so this
    is one vectorized pass, not a decode stage."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(_SNIFF_TYPE)
    def _sniff(content: pd.Series) -> pd.DataFrame:
        rows = [_sniff_one(bytes(x) if x is not None else None) for x in content]
        return pd.DataFrame(rows, columns=["format", "width", "height"])

    return media.withColumn("sniffed", _sniff(F.col(content_col))).select(
        "*",
        F.col("sniffed.format").alias("sniff_format"),
        F.col("sniffed.width").alias("sniff_width"),
        F.col("sniffed.height").alias("sniff_height"),
    ).drop("sniffed")
