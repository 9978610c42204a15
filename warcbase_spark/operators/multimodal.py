"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with a typed metadata struct
(fixtures.py stores them as ``payload``/``payload_meta``; the reference
analogue is ``getImageBytes``/``ComputeImageSize``, ArcRecord.scala:24-31,
ComputeImageSize.scala:10-24). Decode / feature-extract / resize /
frame-sample run as Arrow-batched pandas functions over ``mapInPandas`` —
the Spark-side contract (schema, batch iteration, partitioning) is real.
``mode='real'`` parses PNG/GIF/JPEG/BMP dimensions straight from the file
headers — pure bytes, no codec library, executable everywhere (decode
failure → (0,0), matching ComputeImageSize.scala:10-24); ``mode='pil'`` is
the lib-gated full-Pillow upgrade (WebP/TIFF/...), raising
NotImplementedError when Pillow is absent; ``mode='fake'`` applies a
deterministic byte-arithmetic decode that tests and DuckDB oracles can
mirror exactly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id string, n_bytes int, width int, height int, head_sum int"
)


def _fake_decode(buf: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for an image decoder: dimensions derived from
    the first payload bytes, plus a checksum-ish feature. Mirrors the SQL
    oracle (ascii arithmetic) byte for byte on ASCII payloads."""
    b = buf[:8].ljust(8, b"\x00")
    width = (b[0] * 7 + b[1]) % 640 + 1
    height = (b[2] * 13 + b[3]) % 480 + 1
    head_sum = sum(b)
    return width, height, head_sum


def _require_pil():
    try:
        import PIL.Image  # noqa: F401
        return True
    except ImportError:
        raise NotImplementedError(
            "PIL decode requires Pillow, which this environment does not "
            "ship; mode='real' (pure-bytes header parse) needs no libraries"
        )


_JPEG_SOF = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}  # SOF0..15 minus DHT/JPG/DAC
_JPEG_STANDALONE = frozenset(range(0xD0, 0xD9)) | {0x01}  # RSTn, TEM (no length)


def parse_image_dims(buf: bytes) -> tuple[int, int]:
    """(width, height) from PNG / GIF / JPEG / BMP headers — pure bytes, no
    codec library (all four container layouts are public file-format specs).
    Any malformed/unrecognized payload → (0, 0), the reference's
    ComputeImageSize.scala:10-24 failure value (it catches every exception).

    - PNG: 8-byte signature, then the IHDR chunk — width/height are
      big-endian uint32 at offsets 16 and 20.
    - GIF: 'GIF87a'/'GIF89a', then the logical screen descriptor —
      width/height are little-endian uint16 at offsets 6 and 8.
    - JPEG: 0xFFD8, then marker segments; the frame header (SOFn, n ∉
      {4,8,12}) carries height/width as big-endian uint16 at +5/+7.
    - BMP: 'BM', then the DIB header whose uint32-LE size at offset 14
      selects the layout: BITMAPCOREHEADER (12) stores width/height as
      uint16 LE at 18/20; the INFOHEADER family (40/52/56/64/108/124)
      stores int32 LE at 18/22 (|height|: top-down BMPs store it negative).
      Unknown DIB sizes → (0, 0) rather than misreading garbage fields.
    """
    try:
        if buf[:8] == b"\x89PNG\r\n\x1a\n" and buf[12:16] == b"IHDR" and len(buf) >= 24:
            return (
                int.from_bytes(buf[16:20], "big"),
                int.from_bytes(buf[20:24], "big"),
            )
        if buf[:6] in (b"GIF87a", b"GIF89a") and len(buf) >= 10:
            return (
                int.from_bytes(buf[6:8], "little"),
                int.from_bytes(buf[8:10], "little"),
            )
        if buf[:2] == b"\xff\xd8":
            pos = 2
            n = len(buf)
            while pos + 4 <= n:
                if buf[pos] != 0xFF:
                    break
                marker = buf[pos + 1]
                if marker == 0xFF:  # fill byte
                    pos += 1
                    continue
                if marker in _JPEG_STANDALONE:
                    pos += 2
                    continue
                if marker in _JPEG_SOF:
                    if pos + 9 > n:
                        break
                    return (
                        int.from_bytes(buf[pos + 7 : pos + 9], "big"),
                        int.from_bytes(buf[pos + 5 : pos + 7], "big"),
                    )
                seg_len = int.from_bytes(buf[pos + 2 : pos + 4], "big")
                if seg_len < 2:
                    break
                pos += 2 + seg_len
        if buf[:2] == b"BM" and len(buf) >= 22:
            dib_size = int.from_bytes(buf[14:18], "little")
            if dib_size == 12:  # BITMAPCOREHEADER: uint16 fields
                return (
                    int.from_bytes(buf[18:20], "little"),
                    int.from_bytes(buf[20:22], "little"),
                )
            if dib_size in (40, 52, 56, 64, 108, 124) and len(buf) >= 26:
                return (
                    int.from_bytes(buf[18:22], "little", signed=True),
                    abs(int.from_bytes(buf[22:26], "little", signed=True)),
                )
    except Exception:
        pass
    return 0, 0


def _real_decode(buf: bytes) -> tuple[int | None, int | None, int | None]:
    """Pure-bytes header parse: (width, height, head_sum) with (0, 0) on
    failure per ComputeImageSize.scala:10-24. Executable everywhere — no
    codec library involved."""
    w, h = parse_image_dims(buf)
    if w < 0 or h < 0:  # corrupt header fields count as decode failure
        w, h = 0, 0
    return w, h, sum(buf[:8].ljust(8, b"\x00"))


def _pil_decode(buf: bytes) -> tuple[int | None, int | None, int | None]:
    """Full PIL decode (lib-gated upgrade over the header parse): covers
    formats the header parser doesn't (WebP, TIFF, ...); same
    (0,0)-on-failure semantics."""
    import io

    import PIL.Image

    try:
        with PIL.Image.open(io.BytesIO(buf)) as im:
            w, h = im.size
    except Exception:
        w, h = 0, 0
    return w, h, sum(buf[:8].ljust(8, b"\x00"))


def decode_media(df: DataFrame, payload_col: str = "payload",
                 id_col: str = "doc_id", mode: str = "fake") -> DataFrame:
    """binary payload → (doc_id, n_bytes, width, height, head_sum) via
    mapInPandas (Arrow batches; one Python stage).

    mode='fake': deterministic byte-arithmetic decode (DuckDB-mirrorable —
    the oracle mode). mode='real': pure-bytes PNG/GIF/JPEG/BMP header parse
    (no codec library, executable everywhere), (0,0) on decode failure per
    the reference's ComputeImageSize.scala:10-24. mode='pil': full Pillow
    decode (covers WebP/TIFF/...); raises NotImplementedError at plan time
    when Pillow is absent."""
    if mode == "pil":
        _require_pil()
    elif mode not in ("fake", "real"):
        raise ValueError(
            f"decode_media mode must be 'fake', 'real' or 'pil', got {mode!r}"
        )
    decode = {"fake": _fake_decode, "real": _real_decode, "pil": _pil_decode}[mode]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf[payload_col]
            dims = [(decode(p) if p is not None else (None, None, None)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype(str),
                    "n_bytes": [len(p) if p is not None else None for p in payloads],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "head_sum": [d[2] for d in dims],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, DECODED_SCHEMA)


def resize_media(decoded: DataFrame, max_side: int = 224) -> DataFrame:
    """Resize plan (pure Column math over decoded dims — the byte-level
    resample itself is part of the stubbed codec): scale to fit max_side,
    never upscale."""
    scale = F.least(
        F.lit(1000),
        F.floor(F.lit(1000 * max_side) / F.greatest("width", "height")).cast("int"),
    )
    return decoded.select(
        "doc_id",
        F.greatest(F.floor(F.col("width") * scale / 1000), F.lit(1)).cast("int").alias("width"),
        F.greatest(F.floor(F.col("height") * scale / 1000), F.lit(1)).cast("int").alias("height"),
        scale.alias("scale_milli"),
    )


def frame_sample_plan(df: DataFrame, every_ms: int = 1000,
                      duration_col: str = "duration_ms") -> DataFrame:
    """Video frame-sampling plan: one row per sampled timestamp (explode of
    a sequence — the decode of each frame is the stubbed codec)."""
    return df.withColumn(
        "frame_ms",
        F.explode(F.sequence(F.lit(0), F.greatest(F.col(duration_col) - 1, F.lit(0)), F.lit(every_ms))),
    )
