"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Design for a 100 TB training-data pipeline:

- media payloads are **opaque ``binary`` columns** with a typed metadata
  struct (modality, format, width/height/duration, byte size) — Spark never
  interprets the bytes except inside explicitly-declared Pandas-UDF stages;
- decode / feature-extract / resize / frame-sample run via ``mapInPandas``
  over Arrow batches, so the JVM↔Python boundary moves whole columns of
  bytes, not rows, and the stage parallelizes per input partition with no
  shuffle;
- batch memory is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
  — decoding never materializes a partition of raw media at once.

This container ships no imaging libraries, so the codecs here are
dependency-free pure-Python: REAL BMP, PNG, WAV, and (r10) baseline
sequential JPEG (:mod:`.jpeg`, ITU-T T.81) decode/resize paths; a
deterministic fake feature vector covers backends that genuinely need
native codecs (video, WebP, progressive JPEG), which still raise
``NotImplementedError``/``ValueError`` and quarantine.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import PHASH_GRID_H, PHASH_GRID_W

MEDIA_METADATA = T.StructType(
    [
        T.StructField("modality", T.StringType()),    # image | audio | video
        T.StructField("format", T.StringType()),      # jpeg | png | wav | mp4 ...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", MEDIA_METADATA),
    ]
)


def attach_metadata(
    df: DataFrame,
    content_col: str = "content",
    modality: str = "image",
    fmt: str = "unknown",
) -> DataFrame:
    """Stamp the typed metadata struct onto a binary column (n_bytes computed;
    dimensional fields NULL until a decode stage fills them)."""
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(modality).alias("modality"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(F.col(content_col)).cast("long").alias("n_bytes"),
        ),
    )


def content_fingerprint(content: Column) -> Column:
    """Content-addressed identity for exact media dedup (same pattern as the
    text content hash): md5 over the raw bytes, computed JVM-side."""
    return F.md5(content)


# --- BMP codec: the one dependency-free real decoder ---------------------
#
# 24-bit uncompressed BMP is fully specified by two fixed-layout headers and
# needs no codec library, so it serves as a REAL decode backend proving the
# Arrow-batch plumbing end-to-end.  PNG (round 6) is also real — stdlib
# zlib covers DEFLATE, and the five scanline filters are pure byte math —
# supporting 8-bit grayscale / RGB / RGBA, non-interlaced (the normal
# training-corpus shape).  Baseline JPEG decodes for real via .jpeg (r10);
# WebP and non-baseline JPEG modes quarantine.


def encode_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal 24bpp bottom-up BMP writer (solid color) — the test/fixture
    twin of :func:`decode_bmp_stats`, also handy for synthesizing media
    columns in oracle-checked pipelines."""
    import struct

    row = bytes(bytes((rgb[2], rgb[1], rgb[0])) * width)  # BGR order
    pad = (4 - len(row) % 4) % 4
    pixels = (row + b"\x00" * pad) * height
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + dib + pixels


def encode_bmp_pixels(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """24bpp bottom-up BMP from an explicit pixel grid (``rows[0]`` is the
    TOP image row, each pixel an (r, g, b) triple).  Fixture twin of
    :func:`resize_bmp` for asserting exact nearest-neighbor pixel
    selection, complementing the solid-color :func:`encode_bmp`."""
    import struct

    height = len(rows)
    width = len(rows[0]) if rows else 0
    pad = (4 - (width * 3) % 4) % 4
    body = b"".join(
        bytes(c for r, g, b in row for c in (b, g, r)) + b"\x00" * pad
        for row in reversed(rows)  # bottom-up storage
    )
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return header + dib + body


def resize_bmp(data: bytes, dst_w: int, dst_h: int) -> bytes:
    """Nearest-neighbor resize of a 24bpp uncompressed BMP, returning a new
    BMP.  Deterministic index mapping (``src = floor(dst * src_dim /
    dst_dim)``, the standard NN convention), handles both bottom-up and
    top-down source orientation, and raises ValueError on anything that
    isn't a 24bpp uncompressed BMP — the same refusal contract as
    :func:`decode_bmp`."""
    import struct

    if dst_w < 1 or dst_h < 1:
        raise ValueError(f"target dims must be positive, got {dst_w}x{dst_h}")
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = struct.unpack_from("<I", data, 10)[0]
    width, height = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24bpp uncompressed BMP supported (bpp={bpp})")
    bottom_up = height > 0
    height = abs(height)
    if width < 1 or height < 1:
        raise ValueError("degenerate source dimensions")
    stride = (width * 3 + 3) & ~3
    # header-declared extent must fit the payload: a truncated body would
    # otherwise yield short source rows and a re-encoded BMP whose header
    # dims exceed its pixels — silently-wrong stats instead of quarantine
    # (trailing pad of the last row may be absent; require the pixels only)
    if pixel_off + (height - 1) * stride + width * 3 > len(data):
        raise ValueError("truncated BMP: declared dimensions exceed payload")
    # source rows in IMAGE order (top first), raw BGR bytes
    img_rows = []
    for j in range(height):
        y = (height - 1 - j) if bottom_up else j
        base = pixel_off + y * stride
        img_rows.append(data[base : base + width * 3])
    pad = (4 - (dst_w * 3) % 4) % 4
    out_rows = []
    for j in range(dst_h):
        src = img_rows[j * height // dst_h]
        row = b"".join(
            src[(i * width // dst_w) * 3 : (i * width // dst_w) * 3 + 3]
            for i in range(dst_w)
        )
        out_rows.append(row + b"\x00" * pad)
    body = b"".join(reversed(out_rows))  # bottom-up storage
    dib = struct.pack(
        "<IiiHHIIiiII", 40, dst_w, dst_h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return header + dib + body


def resize_bmp_media(
    df: DataFrame,
    dst_w: int,
    dst_h: int,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Batch resize over the standard ``mapInPandas`` Arrow path: every BMP
    payload is nearest-neighbor-resized to ``dst_w`` x ``dst_h`` and
    re-encoded; output carries the new bytes plus the new dimensions.
    Undecodable payloads yield a NULL content/width/height row instead of
    failing the batch (quarantine-not-crash, as in
    :func:`decode_bmp_stats`).  Map-only — no shuffle at any corpus size;
    batch memory is bounded by the Arrow batch size."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )

    def work(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[content_col]):
                try:
                    out = resize_bmp(
                        data if data is not None else b"", dst_w, dst_h
                    )
                    rows.append((mid, out, dst_w, dst_h, len(out)))
                except ValueError:
                    rows.append((mid, None, None, None, None))
            yield pd.DataFrame(
                rows, columns=[id_col, "content", "width", "height", "n_bytes"]
            )

    return df.select(id_col, content_col).mapInPandas(work, schema=schema)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # grayscale, RGB, RGBA (8-bit)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(
    rows: list[list[tuple]], filter_type: int = 0
) -> bytes:
    """Minimal PNG writer from a pixel grid (``rows[0]`` = top row; pixels
    are 1-tuples for grayscale, 3-tuples RGB, 4-tuples RGBA; 8-bit,
    non-interlaced).  ``filter_type`` applies that scanline filter to every
    row — the fixture twin of :func:`decode_png`'s unfiltering, letting
    tests round-trip every filter the decoder must invert."""
    import struct
    import zlib

    height = len(rows)
    width = len(rows[0]) if rows else 0
    nch = len(rows[0][0]) if rows and rows[0] else 3
    color_type = {1: 0, 3: 2, 4: 6}[nch]
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"bad PNG filter {filter_type}")
    raw_rows = [
        bytes(c for px in row for c in px) for row in rows
    ]
    filtered = bytearray()
    prev = bytes(width * nch)
    for raw in raw_rows:
        filtered.append(filter_type)
        for i, x in enumerate(raw):
            a = raw[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if filter_type == 0:
                f = x
            elif filter_type == 1:
                f = (x - a) & 0xFF
            elif filter_type == 2:
                f = (x - b) & 0xFF
            elif filter_type == 3:
                f = (x - (a + b) // 2) & 0xFF
            else:
                f = (x - _paeth(a, b, c)) & 0xFF
            filtered.append(f)
        prev = raw
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_scanlines(data: bytes) -> tuple[int, int, int, list[bytearray]]:
    """Parse + unfilter a PNG into raw scanlines (top-first, ``channels``
    bytes per pixel).  Shared by :func:`decode_png` and :func:`resize_png`.
    """
    import struct
    import zlib

    if len(data) < 8 or data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    width = height = None
    channels = 0
    idat = bytearray()
    while pos + 8 <= len(data):
        (clen,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4: pos + 8]
        body = data[pos + 8: pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("truncated PNG chunk")
        pos += 12 + clen
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color not in _PNG_CHANNELS:
                raise ValueError(
                    f"only 8-bit gray/RGB/RGBA PNG supported "
                    f"(depth={depth}, color={color})"
                )
            if interlace != 0 or comp != 0 or filt != 0:
                raise ValueError("interlaced/nonstandard PNG not supported")
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG stream: {exc}") from None
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG pixel data does not match declared dimensions")
    prev = bytearray(stride)
    lines: list[bytearray] = []
    for y in range(height):
        base = y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1: base + 1 + stride])
        if ftype > 4:
            raise ValueError(f"bad PNG filter {ftype}")
        for i in range(stride):
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if ftype == 1:
                line[i] = (line[i] + a) & 0xFF
            elif ftype == 2:
                line[i] = (line[i] + b) & 0xFF
            elif ftype == 3:
                line[i] = (line[i] + (a + b) // 2) & 0xFF
            elif ftype == 4:
                line[i] = (line[i] + _paeth(a, b, c)) & 0xFF
        lines.append(line)
        prev = line
    return width, height, channels, lines


def decode_png(data: bytes) -> tuple[int, int, int, float, float, float]:
    """Real PNG decode (stdlib zlib only): 8-bit grayscale / RGB / RGBA,
    non-interlaced, all five scanline filters.  Returns (width, height,
    channels, mean_r, mean_g, mean_b); grayscale reports its mean on all
    three channels, RGBA's alpha is excluded from the means.  Raises
    ValueError on anything outside that envelope (palette, 16-bit,
    interlaced) — same refusal contract as :func:`decode_bmp`."""
    width, height, channels, lines = _png_scanlines(data)
    totals = [0, 0, 0]
    for line in lines:
        if channels == 1:
            s = sum(line)
            totals[0] += s
            totals[1] += s
            totals[2] += s
        else:
            for i in range(0, width * channels, channels):
                totals[0] += line[i]
                totals[1] += line[i + 1]
                totals[2] += line[i + 2]
    n = (width * height) or 1
    return width, height, channels, totals[0] / n, totals[1] / n, totals[2] / n


def resize_png(data: bytes, dst_w: int, dst_h: int) -> bytes:
    """Nearest-neighbor resize of a supported PNG, re-encoded as PNG
    (filter 0).  Same index convention as :func:`resize_bmp`
    (``src = floor(dst * src_dim / dst_dim)``)."""
    if dst_w < 1 or dst_h < 1:
        raise ValueError(f"target dims must be positive, got {dst_w}x{dst_h}")
    width, height, nch, lines = _png_scanlines(data)
    rows = []
    for j in range(dst_h):
        src = lines[j * height // dst_h]
        rows.append(
            [
                tuple(
                    src[(i * width // dst_w) * nch + c] for c in range(nch)
                )
                for i in range(dst_w)
            ]
        )
    return encode_png(rows)


def resize_image(data: bytes, dst_w: int, dst_h: int) -> bytes:
    """Magic-byte dispatch over the real resizers (BMP in, BMP out; PNG in,
    PNG out; JPEG in, JPEG out — r10 pure-Python baseline codec, decode →
    nearest-neighbor → re-encode at quality 90); ValueError on anything
    else — the quarantine trigger of :func:`resize_bmp_media`-style batch
    stages."""
    if data[:2] == b"BM":
        return resize_bmp(data, dst_w, dst_h)
    if data[:8] == _PNG_SIG:
        return resize_png(data, dst_w, dst_h)
    if data[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_pixels, encode_jpeg

        if dst_w < 1 or dst_h < 1:
            raise ValueError(
                f"target dims must be positive, got {dst_w}x{dst_h}"
            )
        w, h, ch, rows = decode_jpeg_pixels(data)
        out = [
            [rows[j * h // dst_h][i * w // dst_w] for i in range(dst_w)]
            for j in range(dst_h)
        ]
        return encode_jpeg(out, quality=90, grayscale=(ch == 1))
    raise ValueError("unrecognized image payload (not BMP/PNG/JPEG)")


def decode_image(data: bytes) -> tuple[str, int, int, int, float, float, float]:
    """Magic-byte dispatch over the real decoders: returns (format, width,
    height, channels, mean_r, mean_g, mean_b).  BMP, PNG, and (r10)
    baseline-sequential JPEG decode for real — the JPEG path is the
    pure-Python T.81 codec in :mod:`.jpeg`, which lifted the repo's last
    image-decode refusal (progressive/arithmetic JPEG and WebP still
    raise and quarantine).  Raises ValueError for anything else — the
    quarantine trigger."""
    if data[:2] == b"BM":
        return ("bmp", *decode_bmp(data))
    if data[:8] == _PNG_SIG:
        return ("png", *decode_png(data))
    if data[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return ("jpeg", *decode_jpeg(data))
    raise ValueError("unrecognized image payload (not BMP/PNG/JPEG)")


def decode_image_stats(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Format-dispatching sibling of :func:`decode_bmp_stats`: BMP and PNG
    payloads decode for real (magic-byte dispatch), anything else
    quarantines as a NULL row with a NULL format.  Map-only mapInPandas —
    the 100 TB media-scan shape."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("format", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("mean_r", T.DoubleType()),
            T.StructField("mean_g", T.DoubleType()),
            T.StructField("mean_b", T.DoubleType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[content_col]):
                data = data if data is not None else b""
                try:
                    fmt, w, h, ch, mr, mg, mb = decode_image(data)
                except ValueError:
                    fmt = w = h = ch = mr = mg = mb = None
                rows.append((mid, fmt, w, h, ch, mr, mg, mb, len(data)))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "format", "width", "height", "channels",
                    "mean_r", "mean_g", "mean_b", "n_bytes",
                ],
            )

    return df.select(id_col, content_col).mapInPandas(extract, schema=schema)


def decode_bmp(data: bytes) -> tuple[int, int, int, float, float, float]:
    """Parse a 24bpp uncompressed BMP: (width, height, channels, mean_r,
    mean_g, mean_b).  Raises ValueError on anything that isn't one."""
    import struct

    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = struct.unpack_from("<I", data, 10)[0]
    width, height = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24bpp uncompressed BMP supported (bpp={bpp})")
    bottom_up = height > 0
    height = abs(height)
    if width < 1 or height < 1:
        raise ValueError("degenerate source dimensions")
    stride = (width * 3 + 3) & ~3
    if pixel_off + (height - 1) * stride + width * 3 > len(data):
        raise ValueError("truncated BMP: declared dimensions exceed payload")
    tr = tg = tb = 0
    for y in range(height):
        base = pixel_off + y * stride
        rowbytes = data[base : base + width * 3]
        tb += sum(rowbytes[0::3])
        tg += sum(rowbytes[1::3])
        tr += sum(rowbytes[2::3])
    n = width * height or 1
    del bottom_up  # orientation irrelevant for whole-image channel means
    return width, height, 3, tr / n, tg / n, tb / n


def decode_bmp_stats(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Real image decode over the standard ``mapInPandas`` Arrow batch path:
    width / height / channel count / per-channel means from actual BMP
    pixels.  Undecodable payloads yield NULL stats rather than failing the
    batch (the quarantine-not-crash contract of a 100 TB media scan)."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("mean_r", T.DoubleType()),
            T.StructField("mean_g", T.DoubleType()),
            T.StructField("mean_b", T.DoubleType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[content_col]):
                data = data if data is not None else b""
                try:
                    w, h, ch, mr, mg, mb = decode_bmp(data)
                except ValueError:
                    w = h = ch = mr = mg = mb = None
                rows.append((mid, w, h, ch, mr, mg, mb, len(data)))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "width", "height", "channels",
                    "mean_r", "mean_g", "mean_b", "n_bytes",
                ],
            )

    return df.select(id_col, content_col).mapInPandas(extract, schema=schema)


def encode_wav(n_samples: int, sample_rate: int, amplitude: int) -> bytes:
    """Minimal PCM16 mono RIFF/WAVE writer (stdlib struct only): ``n_samples``
    constant-amplitude samples.  Test/fixture twin of
    :func:`decode_wav_stats` for synthesizing audio columns in
    oracle-checked pipelines (constant amplitude → integer-exact mean)."""
    import struct

    if not -32768 <= amplitude <= 32767:
        raise ValueError("amplitude out of int16 range")
    pcm = struct.pack(f"<{n_samples}h", *([amplitude] * n_samples))
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    data = struct.pack("<4sI", b"data", len(pcm)) + pcm
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def decode_wav(data: bytes) -> tuple[int, int, int, float]:
    """Parse a PCM16 RIFF/WAVE payload: (sample_rate, channels, n_samples,
    mean_abs amplitude).  Walks the chunk list (fmt may not be first);
    raises ValueError on anything that isn't uncompressed PCM16."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sample_rate, channels, bits, pcm = 12, None, None, None, None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, sample_rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1 or bits != 16:
                raise ValueError("only uncompressed PCM16 supported")
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    n = len(pcm) // 2
    samples = struct.unpack(f"<{n}h", pcm[: n * 2])
    n_frames = n // channels
    mean_abs = sum(abs(s) for s in samples) / n if n else 0.0
    return sample_rate, channels, n_frames, mean_abs


def decode_wav_stats(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Real audio decode over the standard ``mapInPandas`` Arrow batch path:
    sample rate / channels / frame count / mean |amplitude| / duration from
    actual PCM bytes.  Undecodable payloads yield NULL stats rather than
    failing the batch (quarantine-not-crash, same contract as
    :func:`decode_bmp_stats`)."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("mean_abs", T.DoubleType()),
            T.StructField("duration_ms", T.DoubleType()),
        ]
    )

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, data in zip(pdf[id_col], pdf[content_col]):
                data = data if data is not None else b""
                try:
                    rate, ch, n, mean_abs = decode_wav(data)
                    dur = n * 1000.0 / rate if rate else None
                except ValueError:
                    rate = ch = n = mean_abs = dur = None
                rows.append((mid, rate, ch, n, mean_abs, dur))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "sample_rate", "channels", "n_samples",
                    "mean_abs", "duration_ms",
                ],
            )

    return df.select(id_col, content_col).mapInPandas(extract, schema=schema)


_FEATURE_DIM = 8


def _fake_features(data: bytes, dim: int = _FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real image/audio feature extractor:
    sha256-derived floats in [0, 1).  Stable across runs and engines."""
    out = []
    h = hashlib.sha256(data or b"")
    for i in range(dim):
        hi = hashlib.sha256(h.digest() + bytes([i])).digest()
        out.append(int.from_bytes(hi[:8], "big") / 2**64)
    return out


def decode_image_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    backend: str = "fake",
    feature_dim: int = _FEATURE_DIM,
) -> DataFrame:
    """Decode + feature-extract stage over ``mapInPandas``.

    Output: (id_col, features array<double>, n_bytes).  ``backend='fake'``
    runs the deterministic stub; ``backend='bmp'`` really decodes 24bpp BMP
    payloads (:func:`decode_bmp`) into [width, height, channels, mean_r,
    mean_g, mean_b, mean_luma, n_pixels]; other backend names raise until the
    codec libraries are provisioned (mirroring the reference's manual-review
    flag on Script Tasks, src/parser/models.py:133-142).
    """
    if backend not in ("fake", "bmp", "image"):
        raise NotImplementedError(
            f"media decode backend {backend!r} requires codec libraries "
            "not present in this environment; use 'image' (real BMP/PNG/"
            "baseline-JPEG via the dependency-free codecs), 'bmp', or "
            "'fake' (deterministic stub)"
        )

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
            T.StructField("n_bytes", T.LongType()),
        ]
    )

    def _bmp_features(data: bytes) -> list[float]:
        w, h, ch, mr, mg, mb = decode_bmp(data)
        luma = 0.299 * mr + 0.587 * mg + 0.114 * mb
        return [float(w), float(h), float(ch), mr, mg, mb, luma, float(w * h)]

    def _image_features(data: bytes) -> list[float]:
        _, w, h, ch, mr, mg, mb = decode_image(data)
        luma = 0.299 * mr + 0.587 * mg + 0.114 * mb
        return [float(w), float(h), float(ch), mr, mg, mb, luma, float(w * h)]

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        featurize = {
            "bmp": _bmp_features,
            "image": _image_features,
        }.get(backend, lambda b: _fake_features(b, feature_dim))
        for pdf in batches:
            content = pdf[content_col]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "features": [
                        featurize(b if b is not None else b"") for b in content
                    ],
                    "n_bytes": [len(b) if b is not None else 0 for b in content],
                }
            )

    return df.select(id_col, content_col).mapInPandas(extract, schema=schema)


def sample_frames(
    df: DataFrame,
    every_ms: int = 1000,
    content_col: str = "content",
    id_col: str = "media_id",
    backend: str = "fake",
) -> DataFrame:
    """Video frame-sampling stage (one output row per sampled frame).

    The fake backend emits one deterministic pseudo-frame per
    ``duration_ms // every_ms`` (duration taken from the metadata struct), so
    the explode-shaped output contract is exercised without a video codec.
    """
    if backend != "fake":
        raise NotImplementedError(
            "video decode requires codec libraries not present here"
        )
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_fingerprint", T.StringType()),
        ]
    )

    def sample(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, fps = [], [], []
            for mid, content, dur in zip(
                pdf[id_col], pdf[content_col], pdf["duration_ms"]
            ):
                n = max(int((dur or 0) // every_ms), 1)
                data = content if content is not None else b""
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    fps.append(hashlib.sha256(data + bytes([i % 256])).hexdigest())
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "frame_fingerprint": fps}
            )

    return df.select(
        id_col, content_col, F.col("meta.duration_ms").alias("duration_ms")
    ).mapInPandas(sample, schema=schema)


# ---------------------------------------------------------------------------
# Perceptual image hashing (r13, r12 VERDICT #5): dHash / aHash over the
# pure-Python decoders — the multimodal dedup a training-data pipeline
# needs beyond byte-exact content_fingerprint.  A rescaled / re-encoded
# copy of an image keeps its perceptual hash (nearest-neighbor downsample
# to a tiny gray grid erases resolution and codec differences), so
# near-duplicate images pair through the SAME Hamming-banded candidate
# machinery the text SimHash path uses (text/dedup.py).
# ---------------------------------------------------------------------------


def _pixel_rows(
    data: bytes,
) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """(width, height, RGB rows top-first) for any supported image codec
    — BMP (24bpp), PNG (8-bit gray/RGB/RGBA), JPEG (baseline, via
    text/jpeg.py).  ValueError on anything else (the decoders' shared
    refusal contract)."""
    import struct

    if len(data) >= 2 and data[:2] == b"BM":
        if len(data) < 54:
            raise ValueError("truncated BMP")
        pixel_off = struct.unpack_from("<I", data, 10)[0]
        width, height = struct.unpack_from("<ii", data, 18)
        bpp = struct.unpack_from("<H", data, 28)[0]
        compression = struct.unpack_from("<I", data, 30)[0]
        if bpp != 24 or compression != 0:
            raise ValueError("only 24bpp uncompressed BMP supported")
        bottom_up = height > 0
        height = abs(height)
        if width < 1 or height < 1:
            raise ValueError("degenerate source dimensions")
        stride = (width * 3 + 3) & ~3
        if pixel_off + (height - 1) * stride + width * 3 > len(data):
            raise ValueError("truncated BMP")
        rows = []
        for j in range(height):
            y = (height - 1 - j) if bottom_up else j
            base = pixel_off + y * stride
            raw = data[base: base + width * 3]
            rows.append(
                [
                    (raw[i * 3 + 2], raw[i * 3 + 1], raw[i * 3])
                    for i in range(width)
                ]
            )
        return width, height, rows
    if len(data) >= 8 and data[:8] == _PNG_SIG:
        width, height, nch, lines = _png_scanlines(data)
        rows = []
        for line in lines:
            if nch == 1:
                rows.append([(v, v, v) for v in line])
            else:
                rows.append(
                    [
                        tuple(line[i * nch + c] for c in range(3))
                        for i in range(width)
                    ]
                )
        return width, height, rows
    if len(data) >= 2 and data[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_pixels

        width, height, _nch, rows = decode_jpeg_pixels(data)
        return width, height, rows
    raise ValueError("unsupported image payload")


def _gray_grid(data: bytes, dst_w: int, dst_h: int) -> list[list[int]]:
    """Integer-luminance grid nearest-neighbor resized to (dst_w, dst_h):
    gray = (299 r + 587 g + 114 b) // 1000 (BT.601, exact integers — an
    r=g=b source pixel grays to exactly that value), NN mapping
    ``src = floor(dst * src_dim / dst_dim)`` (identical to resize_bmp /
    resize_png, so a pixel-doubled image resizes back to its source
    grid bit-for-bit)."""
    w, h, rows = _pixel_rows(data)
    return [
        [
            (lambda p: (299 * p[0] + 587 * p[1] + 114 * p[2]) // 1000)(
                rows[y * h // dst_h][x * w // dst_w]
            )
            for x in range(dst_w)
        ]
        for y in range(dst_h)
    ]


def dhash_image(data: bytes) -> int:
    """Difference hash: resize to (w+1) x h gray, bit ``y*w + x`` set iff
    ``gray[y][x] > gray[y][x+1]`` — the horizontal-gradient signature
    (Krawetz's dHash).  The w x h grid is the pHash index's
    (``dedup.PHASH_GRID_W`` x ``dedup.PHASH_GRID_H``), whose
    ``PHASH_BITS`` match the text SimHash width, so the Hamming-band
    blocking composes unchanged and the value stays positive in a signed
    64-bit column on every engine."""
    w, h = PHASH_GRID_W, PHASH_GRID_H
    g = _gray_grid(data, w + 1, h)
    v = 0
    for y in range(h):
        for x in range(w):
            if g[y][x] > g[y][x + 1]:
                v |= 1 << (y * w + x)
    return v


def ahash_image(data: bytes) -> int:
    """Average hash: resize to the pHash grid (w x h) in gray, bit set iff
    the pixel exceeds the FLOOR-integer mean — exact arithmetic end to
    end (no float mean), so the hash is engine-portable."""
    w, h = PHASH_GRID_W, PHASH_GRID_H
    g = _gray_grid(data, w, h)
    total = sum(v for row in g for v in row)
    mean = total // (w * h)
    v = 0
    for y in range(h):
        for x in range(w):
            if g[y][x] > mean:
                v |= 1 << (y * w + x)
    return v


def image_phash(
    media_df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    method: str = "dhash",
) -> DataFrame:
    """Perceptual hash per image as an Arrow-batched map
    (``mapInPandas`` — binary decode is genuinely per-row Python; no
    shuffle, no driver round-trip): ``(id_col, phash long, err string)``.
    Corrupt / unsupported payloads follow the decode-stats quarantine
    contract — NULL hash + the refusal reason, never a poisoned job.

    100 TB: map-only over the media table; downstream near-dup blocking
    (:func:`~ssis_to_dbt_spark.text.dedup.phash_candidates`) touches only
    the 1-row-per-image hash relation."""
    fn = {"dhash": dhash_image, "ahash": ahash_image}.get(method)
    if fn is None:
        raise ValueError(f"unknown phash method {method!r}")

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            hashes, errs = [], []
            for raw in pdf[content_col]:
                try:
                    hashes.append(fn(bytes(raw)))
                    errs.append(None)
                except (ValueError, IndexError) as exc:
                    hashes.append(None)
                    errs.append(str(exc)[:200])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "phash": pd.array(hashes, dtype="Int64"),
                    "err": errs,
                }
            )

    return media_df.select(id_col, content_col).mapInPandas(
        compute, schema=f"{id_col} long, phash long, err string"
    )
