"""Multimodal (image/audio/video) column handling for training-data
pipelines — a north-star extension with no reference equivalent (the
reference is a fixed-schema relational engine; BASELINE.json asks for
multimodal columns as a first-class pipeline capability).

Design: media is an opaque ``binary`` column plus a typed metadata
struct; all per-byte work (feature extraction, decode, frame sampling)
runs as Arrow-batched ``mapInPandas`` over that column. At 100 TB the
binary column is the table's bulk, so every stage is a narrow map — no
shuffle touches content bytes; only extracted features (a few dozen
bytes/row) flow into joins/aggregations downstream.

Natively-parsed formats are decoded FOR REAL: PPM(P6)/PGM(P5),
uncompressed BMP (24-bit BGR and 32-bit BGRA/BI_BITFIELDS, bottom-up or
top-down), **PNG** (every 8-bit color type — gray/RGB/palette/
gray+alpha/RGBA — non-interlaced or Adam7; stdlib ``zlib`` inflate +
RFC 2083 un-filtering, no codec library), and PCM WAV audio
(8/16/24/32-bit, stdlib ``wave``). :func:`transcode` genuinely converts
between ppm/bmp/png, and :func:`resample_wav` genuinely resamples
audio; baseline JPEG (DCT + Annex-K Huffman) is implemented from the
spec in :mod:`pyblazing_spark.operators.jpeg`. Formats whose codecs are
neither in the stdlib nor reimplementable at reasonable cost (webp/mp4)
fall back to a **clearly-marked deterministic fake** (grayscale-square
interpretation of the raw bytes) unless PIL is present, and transcode
raises NotImplementedError. The Spark plumbing — schemas, UDF
signatures, Arrow batch shapes, 1->N row expansion — is identical on
both paths and oracle-tested byte-for-byte (the test corpus is ASCII,
so DuckDB string functions can check byte math exactly).
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

try:  # real codec path — absent in this environment by design
    from PIL import Image  # type: ignore  # noqa: F401

    HAVE_PIL = True
except ImportError:  # pragma: no cover
    HAVE_PIL = False

#: modality cycle used by :func:`attach_blob` (keyed on id % 3).
MODALITIES: tuple[str, ...] = ("image", "audio", "video")

CONTENT_TYPES: dict[str, str] = {
    "image": "image/png",
    "audio": "audio/wav",
    "video": "video/mp4",
}

FEATURE_SCHEMA = "doc_id bigint, modality string, n_bytes int, digest string"
IMAGE_SCHEMA = "doc_id bigint, width int, height int, mean_pixel double"
FRAME_SCHEMA = "doc_id bigint, frame_idx int, n_bytes int, digest string"


def attach_blob(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Derive a multimodal-shaped table from a text table: ``content`` =
    the UTF-8 bytes, ``meta`` = struct<modality, content_type, n_bytes>.

    Deterministic (modality cycles by id % 3) so every downstream kernel
    is oracle-checkable. JVM-side only — no Python in this stage."""
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]), (F.pmod(F.col(id_col), 3) + 1).cast("int")
    )
    content_type = F.element_at(
        F.array(*[F.lit(CONTENT_TYPES[m]) for m in MODALITIES]),
        (F.pmod(F.col(id_col), 3) + 1).cast("int"),
    )
    content = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        content.alias("content"),
        F.struct(
            modality.alias("modality"),
            content_type.alias("content_type"),
            F.length(content).alias("n_bytes"),
        ).alias("meta"),
    )


def extract_features(blobs: DataFrame) -> DataFrame:
    """(doc_id, modality, n_bytes, digest): per-blob byte features via
    Arrow-batched mapInPandas.

    The kernel touches real bytes (hashlib over the buffer), proving the
    binary column round-trips Python intact. Narrow map: preserves
    partitioning, no shuffle."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            content = pdf["content"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": [m["modality"] for m in pdf["meta"]],
                    "n_bytes": content.map(len).astype("int32"),
                    "digest": content.map(lambda b: hashlib.md5(bytes(b)).hexdigest()),
                }
            )

    return blobs.mapInPandas(kernel, schema=FEATURE_SCHEMA)


# --------------------------------------------------- codec-free formats
# Real parsers/encoders for formats that need no codec library. Layouts
# are public specifications (netpbm P5/P6; Windows BITMAPINFOHEADER).


def _parse_pnm_header(data: bytes) -> tuple[bytes, int, int, int]:
    """(magic, width, height, data_offset) for a binary netpbm header.
    Supports the plain ``P6\\n<w> <h>\\n255\\n`` shape (no comments).

    Parsed POSITIONALLY — three whitespace-delimited tokens scanned in
    place after the magic, offset = one byte past the maxval token. A
    substring search for the maxval ('255') would mis-anchor whenever a
    dimension contains '255' as a substring (e.g. a 255-wide image)."""
    magic = data[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary pnm: {magic!r}")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated pnm header")
        tokens.append(int(data[start:pos]))
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported pnm maxval {maxval}")
    # pos sits on the single whitespace byte that terminates maxval;
    # pixel data starts one byte past it.
    return magic, w, h, pos + 1


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """P6 binary PPM from raw RGB bytes (len == w*h*3)."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    return f"P6\n{width} {height}\n255\n".encode() + rgb


def decode_ppm(data: bytes) -> tuple[int, int, bytes]:
    """(width, height, rgb_bytes) from a P6 PPM / P5 PGM buffer
    (PGM pixels are replicated to RGB so both decode to one shape)."""
    magic, w, h, off = _parse_pnm_header(data)
    if magic == b"P6":
        rgb = data[off : off + w * h * 3]
        if len(rgb) != w * h * 3:
            raise ValueError("truncated ppm")
        return w, h, rgb
    if magic == b"P5":
        gray = data[off : off + w * h]
        if len(gray) != w * h:
            raise ValueError("truncated pgm")
        import numpy as np

        return w, h, np.repeat(np.frombuffer(gray, dtype=np.uint8), 3).tobytes()
    raise ValueError(f"not a binary pnm: {magic!r}")


def encode_bmp24(width: int, height: int, rgb: bytes) -> bytes:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up rows padded
    to 4 bytes, BGR byte order) from raw RGB bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    import numpy as np

    row_size = (width * 3 + 3) & ~3
    img_size = row_size * height
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    # vectorized: reshape, flip rows (bottom-up), swap channels, pad rows
    px = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3)
    bgr = px[::-1, :, ::-1]
    padded = np.zeros((height, row_size), dtype=np.uint8)
    padded[:, : width * 3] = bgr.reshape(height, width * 3)
    return header + info + padded.tobytes()


def decode_bmp24(data: bytes) -> tuple[int, int, bytes]:
    """(width, height, rgb_bytes) from an uncompressed 24-bit (BGR) or
    32-bit (BGRA/BGRX; plain or BI_BITFIELDS with the standard masks)
    BMP; bottom-up and top-down (negative height) both handled."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", data, 10)[0]
    _, width, height, _, bpp, compression = struct.unpack_from("<IiiHHI", data, 14)
    if bpp not in (24, 32) or compression not in (0, 3):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    if compression == 3:
        # BI_BITFIELDS: only the standard little-endian BGRA layout —
        # masks (R, G, B) sit right after the 40-byte info header.
        rm, gm, bm = struct.unpack_from("<III", data, 54)
        if (rm, gm, bm) != (0x00FF0000, 0x0000FF00, 0x000000FF):
            raise ValueError(
                f"unsupported BMP bitfield masks {rm:#x}/{gm:#x}/{bm:#x}"
            )
    import numpy as np

    nch = bpp // 8
    bottom_up = height > 0
    height = abs(height)
    row_size = (width * nch + 3) & ~3
    rows = np.frombuffer(
        data, dtype=np.uint8, count=row_size * height, offset=data_offset
    ).reshape(height, row_size)
    px = rows[:, : width * nch].reshape(height, width, nch)
    if bottom_up:
        px = px[::-1]
    # channels are stored B, G, R(, A): reverse the first three, drop A
    return width, height, px[:, :, 2::-1].tobytes()


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_filter_row(
    f: int, row: "list[int]", prev: "list[int]", bpp: int = 3
) -> list[int]:
    """Apply PNG filter ``f`` to a reconstructed scanline (encoder side;
    RFC 2083 §6). Scalar-int scan, same shape as the decoder's inverse."""
    n = len(row)
    out = [0] * n
    for i in range(n):
        a = row[i - bpp] if i >= bpp else 0
        b_ = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if f == 0:
            pred = 0
        elif f == 1:
            pred = a
        elif f == 2:
            pred = b_
        elif f == 3:
            pred = (a + b_) >> 1
        else:  # Paeth
            p = a + b_ - c
            pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
        out[i] = (row[i] - pred) & 0xFF
    return out


def encode_png(
    width: int, height: int, rgb: bytes, filter_mode: str = "none"
) -> bytes:
    """REAL PNG encode — stdlib ``zlib`` is the only compression a PNG
    needs (RFC 2083): 8-bit RGB (color type 2), one IDAT, CRC32 per
    chunk. No codec library involved.

    ``filter_mode='none'`` emits filter-0 scanlines (fully vectorized —
    the fast bulk path). ``filter_mode='mixed'`` cycles row filters
    Sub/Up/Average/Paeth (``(y % 4) + 1``), the shape real encoders
    produce — used by the catalog entry so the decoder's entire filter
    matrix is driver-checked, not just the filters our own default
    writes."""
    import zlib

    import numpy as np

    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    raw = np.frombuffer(rgb, np.uint8).reshape(height, width * 3)
    if filter_mode == "mixed":
        scan = np.zeros((height, width * 3 + 1), np.uint8)
        prev = [0] * (width * 3)
        for y in range(height):
            f = (y % 4) + 1
            row = raw[y].tolist()
            scan[y, 0] = f
            scan[y, 1:] = np.array(_png_filter_row(f, row, prev), np.uint8)
            prev = row
    elif filter_mode == "none":
        scan = np.zeros((height, width * 3 + 1), np.uint8)
        scan[:, 1:] = raw  # leading 0 = filter None per scanline
    else:
        raise ValueError(f"unknown filter_mode {filter_mode!r}")
    idat = zlib.compress(scan.tobytes(), 9)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def decode_png(data: bytes) -> tuple[int, int, bytes]:
    """REAL PNG decode: chunk walk, zlib-inflate IDAT, un-filter
    scanlines (all five RFC 2083 filters). Supports every 8-bit color
    type — gray (0), RGB (2), palette (3, PLTE lookup), gray+alpha (4)
    and RGBA (6), alpha dropped on output — non-interlaced OR
    Adam7-interlaced (the seven sub-images share the one zlib stream;
    each pass unfilters independently and scatters onto the pixel
    grid). Filters None/Sub/Up are
    fully vectorized (Sub is a modular cumsum over pixels); Average and
    Paeth carry an intra-row data dependence, so they loop per pixel
    COLUMN (vector over channels) — our own encoder emits filter 0, so
    that path only runs on foreign files."""
    import zlib

    import numpy as np

    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, width = 8, None
    height = bit_depth = color_type = interlace = None
    idat = bytearray()
    plte = b""
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if typ == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif typ == b"PLTE":
            plte = body
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or color_type not in (0, 2, 3, 4, 6) or interlace not in (0, 1):
        raise ValueError(
            f"unsupported PNG (bit_depth={bit_depth}, color_type={color_type}, "
            f"interlace={interlace}); supported: 8-bit color types "
            f"0/2/3/4/6, non-interlaced or Adam7"
        )
    if color_type == 3 and (not plte or len(plte) % 3):
        raise ValueError("palette PNG missing a valid PLTE chunk")
    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    stride = width * bpp
    flat = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    if interlace == 1:
        # Adam7: seven sub-images, each filtered independently and
        # concatenated in the one zlib stream; unfilter each pass with
        # the same engine, then scatter its pixels onto the (y, x) grid.
        out2d = np.zeros((height, width, bpp), np.uint8)
        pos2 = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue  # empty pass carries no bytes at all
            pstride = pw * bpp
            need = ph * (pstride + 1)
            sub = flat[pos2 : pos2 + need]
            if sub.size != need:
                raise ValueError("PNG interlaced scanline data truncated")
            pos2 += need
            rec = _png_unfilter(sub.reshape(ph, pstride + 1), pw, bpp)
            out2d[y0::dy, x0::dx] = rec.reshape(ph, pw, bpp)
        out = out2d.reshape(height, stride)
        return width, height, _png_to_rgb(out, color_type, plte)
    if flat.size != height * (stride + 1):
        raise ValueError("PNG scanline data has unexpected size")
    out = _png_unfilter(flat.reshape(height, stride + 1), width, bpp)
    return width, height, _png_to_rgb(out, color_type, plte)


def _png_to_rgb(out, color_type: int, plte: bytes) -> bytes:
    """Map unfiltered samples to packed RGB: gray replicates, palette
    indexes PLTE, alpha channels are dropped (decode targets opaque
    RGB, matching every other codec here)."""
    import numpy as np

    if color_type == 0:
        return np.repeat(out.reshape(-1), 3).tobytes()
    if color_type == 2:
        return out.tobytes()
    if color_type == 3:
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = out.reshape(-1)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
        return pal[idx].tobytes()
    if color_type == 4:  # gray + alpha
        return np.repeat(out.reshape(-1, 2)[:, 0], 3).tobytes()
    return out.reshape(-1, 4)[:, :3].tobytes()  # RGBA


#: Adam7 pass grid: (x_start, y_start, x_step, y_step) per RFC 2083 §8.2.
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(scan, width: int, bpp: int):
    """Reverse the five RFC 2083 scanline filters over a (h, stride+1)
    byte matrix (filter byte + filtered row); returns (h, stride).
    Shared by the non-interlaced whole image and each Adam7 pass."""
    import numpy as np

    height = scan.shape[0]
    stride = width * bpp
    out = np.zeros((height, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for y in range(height):
        f, line = int(scan[y, 0]), scan[y, 1:]
        if f == 0:
            rec = line.copy()
        elif f == 1:  # Sub: modular prefix sum over pixel columns
            rec = np.cumsum(
                line.reshape(width, bpp), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif f == 2:  # Up
            rec = line + prev  # uint8 wraps mod 256, as the spec requires
        elif f in (3, 4):  # Average / Paeth: sequential in x — scalar scan
            # The left-neighbor data dependence makes full vectorization
            # impossible; a per-byte scan over PLAIN PYTHON INTS (list
            # in, list out) is ~40x faster than the per-pixel numpy
            # slicing it replaced (each np slice = an allocation plus
            # dtype churn for 3 bytes of work). Measured throughput is
            # recorded in SCALE.md ("PNG filter decode cost").
            ln, pv = line.tolist(), prev.tolist()
            rl = [0] * stride
            if f == 3:  # Average: floor((left + up) / 2)
                for i in range(bpp):
                    rl[i] = (ln[i] + (pv[i] >> 1)) & 0xFF
                for i in range(bpp, stride):
                    rl[i] = (ln[i] + ((rl[i - bpp] + pv[i]) >> 1)) & 0xFF
            else:  # Paeth
                for i in range(bpp):
                    # paeth(a=0, b, c=0) == b for every b (p = b, and
                    # either pb = 0 wins or b = 0 makes all three equal).
                    rl[i] = (ln[i] + pv[i]) & 0xFF
                for i in range(bpp, stride):
                    a, b_, c = rl[i - bpp], pv[i], pv[i - bpp]
                    p = a + b_ - c
                    pa = p - a if p >= a else a - p
                    pb = p - b_ if p >= b_ else b_ - p
                    pc = p - c if p >= c else c - p
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b_
                    else:
                        pred = c
                    rl[i] = (ln[i] + pred) & 0xFF
            rec = np.array(rl, np.uint8)
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = rec
        prev = rec
    return out


def _sniff_decode(data: bytes) -> tuple[int, int, bytes] | None:
    """Real decode if the buffer is a format we parse natively."""
    if data[:2] in (b"P6", b"P5"):
        return decode_ppm(data)
    if data[:2] == b"BM":
        return decode_bmp24(data)
    if data[:8] == PNG_SIG:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        from pyblazing_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(data)
    if data[:4] == b"GIF8":
        from pyblazing_spark.operators.gif import decode_gif

        return decode_gif(data)
    if data[:4] in (TIFF_SIG_LE, TIFF_SIG_BE):
        return decode_tiff(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from pyblazing_spark.operators.webp import decode_webp

        try:
            # from-spec VP8L first; lossy VP8 / VP8X / transform-bearing
            # VP8L fall back to the system libwebp (ctypes) when present.
            return decode_webp(data)
        except NotImplementedError:
            # No native library: those streams remain a documented
            # decoder hole — fall through to the same graceful-skip
            # path as any other unrecognized buffer instead of failing
            # the whole batch.
            return None
        except ValueError:
            # CORRUPT webp (bad/truncated bitstream, native decode
            # failure): graceful skip, matching this branch's pre-native
            # behavior — at 100 TB corrupt foreign blobs exist and one
            # must not error the batch.
            return None
    return None


def decode_image(blobs: DataFrame) -> DataFrame:
    """(doc_id, width, height, mean_pixel) for image-modality blobs.

    PPM/PGM/BMP buffers are REALLY decoded (header-declared geometry,
    mean over channel bytes); other formats use PIL when present, else
    the DETERMINISTIC FAKE: the blob is interpreted as a grayscale
    square (side = floor(sqrt(n_bytes)); the first side^2 bytes are the
    pixels). The fake keeps every byte-math property a real decoder has
    (shape from content, mean over pixels), so the Arrow plumbing and
    downstream schema are exercised honestly either way."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        def _mean(buf: bytes) -> float:
            return float(np.frombuffer(buf, dtype=np.uint8).mean()) if buf else 0.0

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                data = bytes(buf)
                decoded = _sniff_decode(data)
                if decoded is not None:
                    w, h, rgb = decoded
                    rows.append((doc_id, w, h, round(_mean(rgb) + 1e-9, 4)))
                    continue
                if HAVE_PIL:  # pragma: no cover — not available here
                    from PIL import Image

                    img = Image.open(io.BytesIO(data)).convert("L")
                    px = np.asarray(img, dtype=np.float64)
                    rows.append((doc_id, img.width, img.height, float(px.mean())))
                    continue
                side = int(math.isqrt(len(data)))
                # +1e-9 tie-nudge before rounding, mirrored in the SQL
                # oracle so half-even vs half-up can't flip the 4th dp.
                rows.append(
                    (doc_id, side, side, round(_mean(data[: side * side]) + 1e-9, 4))
                )
            yield pd.DataFrame(rows, columns=["doc_id", "width", "height", "mean_pixel"])

    return blobs.mapInPandas(kernel, schema=IMAGE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id bigint, width int, height int, mean_pixel double, digest string"
)


def resize_image(blobs: DataFrame, factor: int = 2) -> DataFrame:
    """REAL nearest-neighbor downsample of netpbm blobs by ``factor``:
    decode (header-parsed geometry), keep every ``factor``-th row/column
    (pure numpy slicing — no per-pixel Python, per the vectorized-codec
    policy), and emit the resized geometry, mean pixel, and the md5 of
    the resized buffer so an off-by-one in the stride grid cannot pass.

    P5 (grayscale) resizes the single channel; P6 resizes each RGB
    channel on the same grid. Narrow ``mapInPandas`` map — bytes stay in
    the scan stage, only (id, dims, mean, digest) flow downstream."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                data = bytes(buf)
                magic, w, h, off = _parse_pnm_header(data)
                ch = 3 if magic == b"P6" else 1
                px = np.frombuffer(data, dtype=np.uint8, count=w * h * ch, offset=off)
                arr = px.reshape(h, w, ch)[::factor, ::factor, :]
                out = arr.tobytes()
                rows.append(
                    (
                        doc_id,
                        arr.shape[1],
                        arr.shape[0],
                        round(float(arr.mean()) + 1e-9, 4),
                        hashlib.md5(out).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "mean_pixel", "digest"]
            )

    return blobs.mapInPandas(kernel, schema=RESIZE_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id bigint, sample_rate int, n_channels int, n_samples int, "
    "duration_s double, rms double"
)


def audio_features(blobs: DataFrame) -> DataFrame:
    """REAL PCM WAV decode (stdlib ``wave`` + numpy): per-blob sample
    rate, channel count, frame count, duration and normalized RMS
    amplitude. Narrow map — audio bytes never shuffle."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                with wave.open(io.BytesIO(bytes(buf))) as w:
                    rate, nch, width = w.getframerate(), w.getnchannels(), w.getsampwidth()
                    n = w.getnframes()
                    raw = w.readframes(n)
                x = _wav_norm(raw, width)
                rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
                rows.append((doc_id, rate, nch, n, round(n / rate + 1e-9, 6), round(rms + 1e-9, 6)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "sample_rate", "n_channels", "n_samples", "duration_s", "rms"],
            )

    return blobs.mapInPandas(kernel, schema=AUDIO_SCHEMA)



def _wav_norm(raw: bytes, width: int):
    """PCM frame bytes -> float64 samples in [-1, 1). Handles the PCM
    widths real tools emit: 8-bit (unsigned), 16-bit, 24-bit (packed
    3-byte little-endian), and 32-bit. The stdlib ``wave`` module has
    already validated the container; float-format WAVs never reach here
    (wave rejects format tag 3 on open)."""
    import numpy as np

    if width == 1:
        return (np.frombuffer(raw, np.uint8).astype(np.float64) - 128.0) / 128.0
    if width == 2:
        return np.frombuffer(raw, "<i2").astype(np.float64) / 32768.0
    if width == 3:
        b = np.frombuffer(raw, np.uint8).reshape(-1, 3).astype(np.int64)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v -= (v & 0x800000) << 1  # sign-extend 24 bits
        return v.astype(np.float64) / 8388608.0
    if width == 4:
        return np.frombuffer(raw, "<i4").astype(np.float64) / 2147483648.0
    raise ValueError(f"unsupported PCM sample width {width}")


SHARPNESS_SCHEMA = (
    "doc_id bigint, width int, height int, n_interior int, "
    "mean_abs_lap double, var_lap double"
)


def image_sharpness(blobs: DataFrame) -> DataFrame:
    """REAL image-quality scoring: decode a PGM/PPM blob with the real
    netpbm parser, compute the 4-neighbor discrete Laplacian over the
    interior pixels (grayscale), and return its mean |value| and
    population variance — the classic variance-of-Laplacian blur/
    sharpness metric used to filter low-quality images from training
    corpora. Narrow map; blobs never shuffle; the stencil is one
    vectorized numpy expression per blob."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                data = bytes(buf)
                magic, w, h, off = _parse_pnm_header(data)
                if magic == b"P5":
                    g = np.frombuffer(data[off : off + w * h], dtype=np.uint8)
                else:
                    rgb = np.frombuffer(
                        data[off : off + w * h * 3], dtype=np.uint8
                    ).reshape(-1, 3)
                    g = rgb.mean(axis=1)  # unweighted gray for determinism
                img = g.reshape(h, w).astype(np.float64)
                lap = (
                    4 * img[1:-1, 1:-1]
                    - img[:-2, 1:-1]
                    - img[2:, 1:-1]
                    - img[1:-1, :-2]
                    - img[1:-1, 2:]
                )
                rows.append(
                    (
                        doc_id,
                        w,
                        h,
                        int(lap.size),
                        round(float(np.abs(lap).mean()) + 1e-9, 4) if lap.size else None,
                        round(float(lap.var()) + 1e-9, 4) if lap.size else None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_interior",
                    "mean_abs_lap", "var_lap",
                ],
            )

    return blobs.mapInPandas(kernel, schema=SHARPNESS_SCHEMA)


SPECTRUM_SCHEMA = (
    "doc_id bigint, n_samples int, mag1 double, mag2 double, mag3 double, "
    "mag4 double"
)


def audio_spectrum(blobs: DataFrame) -> DataFrame:
    """REAL spectral analysis: decode PCM-16 WAV and compute the DFT
    magnitude of bins 1-4 via ``numpy.fft.rfft`` over the normalized
    samples (the front half of any audio-fingerprint / voice-activity
    feature). Narrow map — audio bytes never shuffle; per-blob FFT is
    O(n log n) numpy, no codec library needed."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                with wave.open(io.BytesIO(bytes(buf))) as w:
                    width, n = w.getsampwidth(), w.getnframes()
                    raw = w.readframes(n)
                x = _wav_norm(raw, width)
                spec = np.abs(np.fft.rfft(x))
                mags = [
                    round(float(spec[k]) + 1e-9, 4) if k < spec.size else None
                    for k in (1, 2, 3, 4)
                ]
                rows.append((doc_id, n, *mags))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_samples", "mag1", "mag2", "mag3", "mag4"]
            )

    return blobs.mapInPandas(kernel, schema=SPECTRUM_SCHEMA)


def frame_sample(blobs: DataFrame, n_frames: int = 4) -> DataFrame:
    """1->N expansion: split each (video) blob into ``n_frames``
    contiguous byte ranges — frame i covers
    ``[i*L//n, (i+1)*L//n)`` — one output row per frame with its size and
    digest. Models video frame sampling; at scale the per-frame bytes
    would feed a feature extractor instead of a digest."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                data = bytes(buf)
                length = len(data)
                for i in range(n_frames):
                    chunk = data[i * length // n_frames : (i + 1) * length // n_frames]
                    rows.append((doc_id, i, len(chunk), hashlib.md5(chunk).hexdigest()))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "n_bytes", "digest"])

    return blobs.mapInPandas(kernel, schema=FRAME_SCHEMA)


RESAMPLE_SCHEMA = (
    "doc_id bigint, content binary, sample_rate int, n_samples int"
)


def encode_wav_pcm16(samples, rate: int, n_channels: int = 1) -> bytes:
    """PCM-16 mono/stereo WAV container from an int16 numpy array."""
    import numpy as np

    raw = np.asarray(samples, dtype="<i2").tobytes()
    data_size = len(raw)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH", 16, 1, n_channels, rate, rate * 2 * n_channels,
            2 * n_channels, 16,
        )
        + b"data"
        + struct.pack("<I", data_size)
        + raw
    )


def resample_wav(blobs: DataFrame, target_rate: int) -> DataFrame:
    """REAL audio transcoding: decode PCM-16 WAV, linear-interpolation
    resample to ``target_rate`` (numpy ``interp`` — no codec library
    needed), re-encode a valid WAV container at the new rate.

    Output sample j sits at source position ``j * src/target``;
    ``n_out = n_in * target // src``, so an integer downsample factor
    lands exactly on source samples (deterministic, oracle-checkable).
    Narrow map — audio bytes never shuffle."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                with wave.open(io.BytesIO(bytes(buf))) as w:
                    rate, nch, width = w.getframerate(), w.getnchannels(), w.getsampwidth()
                    n = w.getnframes()
                    raw = w.readframes(n)
                if nch != 1:
                    raise ValueError("only mono PCM supported")
                # normalize then rescale to the 16-bit output domain so
                # every input width resamples onto the same scale
                x = _wav_norm(raw, width) * 32768.0
                n_out = int(n * target_rate // rate)
                pos = np.arange(n_out) * (rate / target_rate)
                y = np.interp(pos, np.arange(n), x) if n else np.empty(0)
                out = encode_wav_pcm16(np.round(y).astype("<i2"), target_rate)
                rows.append((doc_id, out, target_rate, n_out))
            yield pd.DataFrame(
                rows, columns=["doc_id", "content", "sample_rate", "n_samples"]
            )

    return blobs.mapInPandas(kernel, schema=RESAMPLE_SCHEMA)


TRANSCODE_SCHEMA = "doc_id bigint, content binary, content_type string, n_bytes int"

def _encode_gif_target(w: int, h: int, rgb: bytes) -> bytes:
    from pyblazing_spark.operators.gif import encode_gif

    return encode_gif(w, h, rgb)


def _encode_tiff_target(w: int, h: int, rgb: bytes) -> bytes:
    # encode_tiff is defined later in this module; resolve at call time
    return encode_tiff(w, h, rgb)


def _encode_jpeg_target(w: int, h: int, rgb: bytes) -> bytes:
    from pyblazing_spark.operators.jpeg import encode_jpeg

    return encode_jpeg(w, h, rgb, quality=90, subsampling="444")


_TRANSCODE_TARGETS = {
    "ppm": ("image/x-portable-pixmap", encode_ppm),
    "bmp": ("image/bmp", encode_bmp24),
    "png": ("image/png", encode_png),
    "jpeg": ("image/jpeg", _encode_jpeg_target),
    "jpg": ("image/jpeg", _encode_jpeg_target),
    "gif": ("image/gif", _encode_gif_target),
    "tiff": ("image/tiff", _encode_tiff_target),
    "tif": ("image/tiff", _encode_tiff_target),
}


def transcode(blobs: DataFrame, target_format: str) -> DataFrame:
    """REAL transcoding between the natively-parsed image formats: any
    PPM/PGM/BMP/PNG blob re-encodes to ``target_format`` in
    {'ppm', 'bmp', 'png', 'gif', 'tiff', 'jpeg'} (decode to raw RGB,
    encode the target container — PPM/BMP/PNG/TIFF round-trip
    losslessly, GIF losslessly
    for <=256-color images via the from-scratch LZW coder in
    :mod:`pyblazing_spark.operators.gif`; JPEG is the baseline
    DCT codec in :mod:`pyblazing_spark.operators.jpeg`, lossy by design
    and verified by PSNR). Remaining targets (webp/mp4/...) need codec
    libraries absent from this container and raise NotImplementedError,
    as does an unrecognized source buffer."""
    target = target_format.lower()
    if target not in _TRANSCODE_TARGETS:
        raise NotImplementedError(
            f"transcode to {target_format!r} requires media codec libraries "
            "(PIL/ffmpeg) not available in this container; codec-free "
            "targets: " + ", ".join(sorted(_TRANSCODE_TARGETS))
        )
    content_type, encode = _TRANSCODE_TARGETS[target]

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                decoded = _sniff_decode(bytes(buf))
                if decoded is None:
                    raise NotImplementedError(
                        "source buffer is not PPM/PGM/BMP; decoding it needs "
                        "codec libraries not available in this container"
                    )
                w, h, rgb = decoded
                out = encode(w, h, rgb)
                rows.append((doc_id, out, content_type, len(out)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "content", "content_type", "n_bytes"]
            )

    return blobs.mapInPandas(kernel, schema=TRANSCODE_SCHEMA)


def image_dhash(blobs: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual difference-hash per image blob: decode (any
    natively-parsed format), grayscale via integer channel mean,
    nearest-neighbor sample onto a (grid+1) x grid lattice, then one
    bit per horizontally-adjacent pair (left < right) — the standard
    dHash. Emitted as a ``grid*grid``-char bit STRING (exact, no 64-bit
    sign-overflow arithmetic, trivially groupable and oracle-checkable).

    Near-identical images (crops, recompressions, slight edits) share
    most bits; identical images hash identically — the image-corpus
    analogue of text fingerprinting, used for exact-cluster dedup here
    and band-joinable exactly like SimHash for hamming-near pairs.

    Scale: narrow Arrow map — bytes stay in the scan stage; only
    (doc_id, 64-char hash) flows downstream, so clustering shuffles a
    fingerprint, never pixels."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["content"]):
                w, h, rgb = _sniff_decode(bytes(buf)) or (0, 0, b"")
                if not rgb:
                    rows.append((doc_id, None))
                    continue
                px = np.frombuffer(rgb, np.uint8).reshape(h, w, 3)
                gray = (
                    px[:, :, 0].astype(np.int32)
                    + px[:, :, 1]
                    + px[:, :, 2]
                ) // 3
                ri = (np.arange(grid) * h) // grid
                ci = (np.arange(grid + 1) * w) // (grid + 1)
                g = gray[np.ix_(ri, ci)]
                bits = (g[:, :-1] < g[:, 1:]).astype(np.uint8)
                rows.append((doc_id, "".join("1" if b else "0" for b in bits.reshape(-1))))
            yield pd.DataFrame(rows, columns=["doc_id", "dhash"])

    return blobs.mapInPandas(kernel, schema="doc_id bigint, dhash string")


TIFF_SIG_LE = b"II*\x00"
TIFF_SIG_BE = b"MM\x00*"


def encode_tiff(width: int, height: int, rgb: bytes) -> bytes:
    """Uncompressed baseline TIFF (little-endian, single strip, RGB,
    8 bits/sample) — TIFF 6.0 layout: header, pixel strip, one IFD with
    the ten baseline tags a reader needs."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length != w*h*3")
    strip_offset = 8
    ifd_offset = strip_offset + len(rgb)
    # BitsPerSample needs 3 SHORTs -> stored out-of-line after the IFD
    entries = []

    def tag(tid: int, typ: int, count: int, value: int) -> None:
        entries.append(struct.pack("<HHII", tid, typ, count, value))

    n_entries = 10
    bps_offset = ifd_offset + 2 + n_entries * 12 + 4
    tag(256, 4, 1, width)            # ImageWidth LONG
    tag(257, 4, 1, height)           # ImageLength LONG
    tag(258, 3, 3, bps_offset)       # BitsPerSample SHORT[3] (offset)
    tag(259, 3, 1, 1)                # Compression: none
    tag(262, 3, 1, 2)                # Photometric: RGB
    tag(273, 4, 1, strip_offset)     # StripOffsets
    tag(277, 3, 1, 3)                # SamplesPerPixel
    tag(278, 4, 1, height)           # RowsPerStrip: one strip
    tag(279, 4, 1, len(rgb))         # StripByteCounts
    tag(284, 3, 1, 1)                # PlanarConfiguration: chunky
    ifd = struct.pack("<H", n_entries) + b"".join(entries) + struct.pack("<I", 0)
    header = TIFF_SIG_LE + struct.pack("<I", ifd_offset)
    return header + rgb + ifd + struct.pack("<HHH", 8, 8, 8)


def decode_tiff(data: bytes) -> tuple[int, int, bytes]:
    """Baseline uncompressed TIFF decode, both byte orders: IFD walk,
    multi-strip assembly, RGB (chunky) or grayscale."""
    if data[:4] == TIFF_SIG_LE:
        e = "<"
    elif data[:4] == TIFF_SIG_BE:
        e = ">"
    else:
        raise ValueError("not a TIFF")
    import numpy as np

    (ifd_off,) = struct.unpack_from(e + "I", data, 4)
    (n,) = struct.unpack_from(e + "H", data, ifd_off)
    tags: dict[int, tuple[int, int, int]] = {}
    for i in range(n):
        tid, typ, count, raw = struct.unpack_from(
            e + "HHII", data, ifd_off + 2 + i * 12
        )
        tags[tid] = (typ, count, raw)

    def values(tid: int, default=None) -> list[int]:
        if tid not in tags:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tid}")
            return [default]
        typ, count, raw = tags[tid]
        size = {3: 2, 4: 4}.get(typ)
        if size is None:
            raise ValueError(f"unsupported TIFF tag type {typ}")
        fmt = e + ("H" if typ == 3 else "I")
        if count * size <= 4:
            # inline: values live in the 4-byte field itself; re-pack the
            # field in file byte order and read the typed values out
            out = []
            rawb = struct.pack(e + "I", raw)
            for k in range(count):
                out.append(struct.unpack_from(fmt, rawb, k * size)[0])
            return out
        return [
            struct.unpack_from(fmt, data, raw + k * size)[0] for k in range(count)
        ]

    width = values(256)[0]
    height = values(257)[0]
    comp = values(259, 1)[0]
    if comp != 1:
        raise ValueError(f"unsupported TIFF compression {comp}")
    spp = values(277, 1)[0]
    offsets = values(273)
    counts = values(279)
    buf = b"".join(data[o : o + c] for o, c in zip(offsets, counts))
    if len(buf) != width * height * spp:
        raise ValueError("TIFF strip data size mismatch")
    if spp == 3:
        return width, height, buf
    if spp == 1:
        return width, height, np.repeat(
            np.frombuffer(buf, np.uint8), 3
        ).tobytes()
    raise ValueError(f"unsupported TIFF SamplesPerPixel {spp}")
