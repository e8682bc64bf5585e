"""Multimodal column plumbing: binary round-trip through Arrow, typed
metadata, 1->N frame expansion, decode stubs. Oracle-grade value checks
live in test_queries.py (the registered queries have DuckDB oracles);
these tests pin the operator-level contracts."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from pyblazing_spark.operators import multimodal as MM
from pyblazing_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def blobs(spark, sf_dir):
    return MM.attach_blob(load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 60))


def test_attach_blob_schema_and_meta(blobs):
    schema = dict(blobs.dtypes)
    assert schema["content"] == "binary"
    assert schema["meta"].startswith("struct<modality:string,content_type:string,n_bytes:int")
    rows = blobs.collect()
    for r in rows:
        assert r.meta.modality == MM.MODALITIES[r.doc_id % 3]
        assert r.meta.content_type == MM.CONTENT_TYPES[r.meta.modality]
        assert r.meta.n_bytes == len(r.content)


def test_binary_roundtrips_python_intact(blobs, spark, sf_dir):
    """The digest computed from raw bytes in the pandas kernel must equal
    md5 of the original text — proving content passes Arrow unmangled."""
    feats = {r.doc_id: r for r in MM.extract_features(blobs).collect()}
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 60).collect()
    assert len(feats) == len(docs)
    for d in docs:
        expected = hashlib.md5(d.text.encode("utf-8")).hexdigest()
        assert feats[d.doc_id].digest == expected
        assert feats[d.doc_id].n_bytes == len(d.text.encode("utf-8"))


def test_decode_image_fake_geometry(blobs):
    out = MM.decode_image(blobs.where(F.col("meta.modality") == "image")).collect()
    assert out, "no image-modality blobs in range"
    for r in out:
        assert r.width == r.height and r.width >= 1
        assert 0.0 <= r.mean_pixel <= 255.0


def test_frame_sample_expansion(blobs):
    videos = blobs.where(F.col("meta.modality") == "video")
    n_videos = videos.count()
    frames = MM.frame_sample(videos, n_frames=4).collect()
    assert len(frames) == 4 * n_videos
    by_doc: dict[int, list] = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    sizes = {r.doc_id: r for r in videos.select("doc_id", F.col("meta.n_bytes").alias("n")).collect()}
    for doc_id, fr in by_doc.items():
        assert sorted(f.frame_idx for f in fr) == [0, 1, 2, 3]
        assert sum(f.n_bytes for f in fr) == sizes[doc_id].n


def test_frame_sample_deterministic(blobs):
    videos = blobs.where(F.col("meta.modality") == "video")
    a = sorted((r.doc_id, r.frame_idx, r.digest) for r in MM.frame_sample(videos).collect())
    b = sorted((r.doc_id, r.frame_idx, r.digest) for r in MM.frame_sample(videos).collect())
    assert a == b


def test_transcode_compressed_targets_raise(blobs):
    """Compressed targets still need codec libraries -> loud stub."""
    with pytest.raises(NotImplementedError):
        MM.transcode(blobs, "webp")


def _checker_rgb(w: int, h: int) -> bytes:
    return bytes(
        c
        for y in range(h)
        for x in range(w)
        for c in ((255, 0, 128) if (x + y) % 2 == 0 else (0, 200, 64))
    )


def test_real_image_codecs_roundtrip():
    """Pure decode/encode layer: PPM and BMP parse to identical raw RGB
    and survive a lossless round-trip (both directions)."""
    w, h = 5, 3  # odd width exercises BMP row padding
    rgb = _checker_rgb(w, h)
    ppm, bmp = MM.encode_ppm(w, h, rgb), MM.encode_bmp24(w, h, rgb)
    assert MM.decode_ppm(ppm) == (w, h, rgb)
    assert MM.decode_bmp24(bmp) == (w, h, rgb)
    # pgm replicates gray to rgb
    gray = bytes(range(12))
    pgm = b"P5\n4 3\n255\n" + gray
    pw, ph, prgb = MM.decode_ppm(pgm)
    assert (pw, ph) == (4, 3) and prgb[0:3] == bytes((0, 0, 0)) and prgb[3:6] == bytes((1, 1, 1))


def _png_with_filters(width, height, rgb, filters):
    """Hand-build a PNG whose scanlines use the GIVEN filter types,
    computing each filter transform independently with numpy — the
    decoder must invert every one of them."""
    import struct as _struct
    import zlib

    import numpy as np

    raw = np.frombuffer(rgb, np.uint8).reshape(height, width * 3).astype(np.int16)
    scan = bytearray()
    prev = np.zeros(width * 3, np.int16)
    for y in range(height):
        line, f = raw[y], filters[y % len(filters)]
        if f == 0:
            filt = line
        elif f == 1:
            left = np.concatenate([np.zeros(3, np.int16), line[:-3]])
            filt = line - left
        elif f == 2:
            filt = line - prev
        elif f == 3:
            left = np.concatenate([np.zeros(3, np.int16), line[:-3]])
            filt = line - (left + prev) // 2
        else:  # Paeth
            left = np.concatenate([np.zeros(3, np.int16), line[:-3]])
            ul = np.concatenate([np.zeros(3, np.int16), prev[:-3]])
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul))
            filt = line - pred
        scan += bytes([f]) + (filt % 256).astype(np.uint8).tobytes()
        prev = line
    def chunk(typ, data):
        return (_struct.pack(">I", len(data)) + typ + data
                + _struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))
    ihdr = _struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (MM.PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(scan))) + chunk(b"IEND", b""))


def test_png_codec_roundtrip_and_all_filters():
    """encode_png -> decode_png is lossless, and the decoder inverts all
    five RFC 2083 scanline filters on a hand-filtered PNG."""
    w, h = 7, 5  # odd width
    rgb = bytes((i * 31) % 256 for i in range(w * h * 3))
    assert MM.decode_png(MM.encode_png(w, h, rgb)) == (w, h, rgb)
    # every filter type appears at least once across the scanlines
    png = _png_with_filters(w, h, rgb, filters=[0, 1, 2, 3, 4])
    assert MM.decode_png(png) == (w, h, rgb)
    # grayscale (color type 0) replicates to RGB like PGM does
    import struct as _struct
    import zlib

    import numpy as np
    gray = bytes(range(12))
    scan = b"".join(b"\x00" + gray[y * 4 : (y + 1) * 4] for y in range(3))
    def chunk(typ, data):
        return (_struct.pack(">I", len(data)) + typ + data
                + _struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))
    gpng = (MM.PNG_SIG + chunk(b"IHDR", _struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b""))
    gw, gh, grgb = MM.decode_png(gpng)
    assert (gw, gh) == (4, 3)
    assert np.array_equal(
        np.frombuffer(grgb, np.uint8), np.repeat(np.frombuffer(gray, np.uint8), 3)
    )


def test_transcode_via_png_lossless(spark):
    """ppm -> png -> bmp -> ppm through the Spark transcode kernels is
    byte-identical to the original ppm."""
    w, h = 5, 4
    rgb = bytes((i * 13) % 256 for i in range(w * h * 3))
    src = spark.createDataFrame(
        [(9, MM.encode_ppm(w, h, rgb))], "doc_id long, content binary"
    )
    png = MM.transcode(src, "png").select("doc_id", "content")
    bmp = MM.transcode(png, "bmp").select("doc_id", "content")
    back = MM.transcode(bmp, "ppm").collect()[0]
    assert bytes(back.content) == MM.encode_ppm(w, h, rgb)
    assert back.content_type == "image/x-portable-pixmap"


def test_resample_wav_interpolates(spark):
    """Non-integer rate ratio takes the true linear-interpolation path:
    8000 -> 6000 Hz places output sample j at source position 4j/3, so
    every third output lands on a source sample and the rest are exact
    midway/thirds blends — recomputed here with numpy as the oracle."""
    import numpy as np

    samples = np.array([0, 3000, -6000, 9000, -12000, 15000, -18000, 21000], dtype="<i2")
    wav = MM.encode_wav_pcm16(samples, 8000)
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, content binary")
    out = MM.resample_wav(df, target_rate=6000).collect()[0]
    assert out.sample_rate == 6000 and out.n_samples == 6
    n_out = 8 * 6000 // 8000
    pos = np.arange(n_out) * (8000 / 6000)
    expected = np.round(np.interp(pos, np.arange(8), samples.astype(float))).astype("<i2")
    feats = MM.audio_features(
        spark.createDataFrame([(1, bytearray(out.content))], "doc_id long, content binary")
    ).collect()[0]
    assert feats.sample_rate == 6000 and feats.n_samples == 6
    got = np.frombuffer(bytes(out.content)[44:], dtype="<i2")
    assert np.array_equal(got, expected), (got, expected)


def test_pnm_header_dims_containing_255():
    """Header offset must be found positionally: a width/height whose
    decimal text contains '255' (the maxval token) used to mis-anchor a
    substring search and return header bytes as pixels."""
    for w, h in ((255, 1), (1, 255), (255, 2), (2551 % 300, 255)):
        rgb = bytes((i * 7) % 256 for i in range(w * h * 3))
        assert MM.decode_ppm(MM.encode_ppm(w, h, rgb)) == (w, h, rgb)
    # P5 with a 255-wide image too
    gray = bytes((i * 3) % 256 for i in range(255 * 2))
    pgm = b"P5\n255 2\n255\n" + gray
    pw, ph, prgb = MM.decode_ppm(pgm)
    assert (pw, ph) == (255, 2) and prgb[:3] == bytes((gray[0],) * 3)
    # BMP round-trip at the same awkward width
    rgb = bytes((i * 11) % 256 for i in range(255 * 2 * 3))
    assert MM.decode_bmp24(MM.encode_bmp24(255, 2, rgb)) == (255, 2, rgb)


def test_decode_image_real_formats(spark):
    """decode_image takes the REAL parse path for PPM/BMP buffers:
    header-declared geometry (not sqrt-of-length) and channel-byte mean."""
    w, h = 4, 2
    rgb = _checker_rgb(w, h)
    rows = [(1, MM.encode_ppm(w, h, rgb)), (2, MM.encode_bmp24(w, h, rgb))]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r.doc_id: r for r in MM.decode_image(df).collect()}
    expected_mean = round(sum(rgb) / len(rgb) + 1e-9, 4)
    for doc_id in (1, 2):
        r = out[doc_id]
        assert (r.width, r.height) == (w, h)
        assert r.mean_pixel == pytest.approx(expected_mean, abs=1e-4)


def test_transcode_ppm_bmp_roundtrip(spark):
    """Real transcoding: PPM -> BMP -> PPM is lossless."""
    w, h = 3, 3
    rgb = _checker_rgb(w, h)
    src = spark.createDataFrame([(7, MM.encode_ppm(w, h, rgb))], "doc_id long, content binary")
    as_bmp = MM.transcode(src, "bmp")
    r = as_bmp.collect()[0]
    assert r.content_type == "image/bmp" and bytes(r.content)[:2] == b"BM"
    back = MM.transcode(as_bmp.select("doc_id", "content"), "ppm").collect()[0]
    assert bytes(back.content) == MM.encode_ppm(w, h, rgb)


def test_audio_features_real_wav(spark):
    """audio_features really decodes PCM WAV: rate/channels/frames and a
    hand-computable RMS (constant-amplitude square wave)."""
    import io as _io
    import wave

    buf = _io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        # square wave at half full scale: RMS = 0.5 exactly
        frames = b"".join(
            (16384).to_bytes(2, "little", signed=True)
            if i % 2 == 0
            else (-16384).to_bytes(2, "little", signed=True)
            for i in range(800)
        )
        wv.writeframes(frames)
    df = spark.createDataFrame([(3, buf.getvalue())], "doc_id long, content binary")
    r = MM.audio_features(df).collect()[0]
    assert (r.sample_rate, r.n_channels, r.n_samples) == (8000, 1, 800)
    assert r.duration_s == pytest.approx(0.1, abs=1e-6)
    assert r.rms == pytest.approx(0.5, abs=1e-6)


def test_resize_image_p6_matches_numpy_slicing(spark):
    """resize_image on a color P6: every 2nd row/col of each channel,
    verified against direct numpy slicing of the source pixels."""
    import hashlib

    import numpy as np

    from pyblazing_spark.operators.multimodal import encode_ppm, resize_image

    rng = np.random.RandomState(3)
    w, h = 6, 4
    rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    blob = encode_ppm(w, h, rgb.tobytes())
    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, content binary")
    out = resize_image(df, factor=2).collect()[0]
    expect = rgb[::2, ::2, :]
    assert (out["width"], out["height"]) == (expect.shape[1], expect.shape[0])
    assert out["digest"] == hashlib.md5(expect.tobytes()).hexdigest()
    assert abs(out["mean_pixel"] - round(float(expect.mean()) + 1e-9, 4)) < 1e-9


def test_png_mixed_filter_encoder_roundtrip():
    """encode_png(filter_mode='mixed') emits Sub/Up/Average/Paeth rows
    ((y % 4) + 1 — what the catalog entry now ships to the decoder) and
    decode_png inverts them losslessly, including a 255-px-wide image
    (the PNM header-parse regression width) and a 1-row edge case where
    Paeth/Average see an all-zero prior row."""
    import struct as _struct
    import zlib as _zlib

    for w, h in [(4, 4), (255, 3), (5, 1), (1, 6)]:
        rgb = bytes((i * 97 + 13) % 256 for i in range(w * h * 3))
        png = MM.encode_png(w, h, rgb, filter_mode="mixed")
        assert MM.decode_png(png) == (w, h, rgb)
        # the emitted scanlines genuinely carry the advertised filters
        pos = 8
        idat = bytearray()
        while pos < len(png):
            (length,) = _struct.unpack_from(">I", png, pos)
            typ = png[pos + 4 : pos + 8]
            if typ == b"IDAT":
                idat += png[pos + 8 : pos + 8 + length]
            pos += 12 + length
        scan = _zlib.decompress(bytes(idat))
        stride = w * 3 + 1
        filters = [scan[y * stride] for y in range(h)]
        assert filters == [(y % 4) + 1 for y in range(h)]


def test_media_container_builders_and_parsers():
    """mp4 (both mvhd versions) and WebP (all three flavor headers)
    round-trip their metadata through the real box/RIFF walks; garbage
    and codec-less buffers are refused, not mis-parsed."""
    import pytest

    from pyblazing_spark.operators import media_meta as MMETA

    for ver in (0, 1):
        b = MMETA.build_mp4(
            duration_ms=123450, width=640, height=360,
            n_audio_tracks=2, version=ver,
        )
        m = MMETA.parse_mp4(b)
        assert (
            m["duration_ms"], m["width"], m["height"],
            m["n_video_tracks"], m["n_audio_tracks"], m["brand"],
        ) == (123450, 640, 360, 1, 2, "isom")
    for fl, (w, h) in [("vp8l", (255, 31)), ("vp8", (1280, 720)),
                       ("vp8x", (4000, 3000))]:
        m = MMETA.parse_webp(MMETA.build_webp(w, h, flavor=fl))
        assert (m["width"], m["height"], m["flavor"]) == (w, h, fl)
    assert MMETA.probe(b"garbagegarbagegarbage") is None
    with pytest.raises(ValueError):
        MMETA.parse_mp4(b"\x00\x00\x00\x08free")
    with pytest.raises(ValueError):
        # RIFF/WEBP framing with a bad VP8L signature byte
        bad = bytearray(MMETA.build_webp(4, 4, flavor="vp8l"))
        bad[20] ^= 0xFF
        MMETA.parse_webp(bytes(bad))


def test_mp4_sample_table_roundtrip():
    """Mux -> demux through the real stsz/stco/stsc walk: arbitrary
    (including empty) sample payloads come back byte-identical, and the
    metadata parse still sees the same file."""
    from pyblazing_spark.operators import media_meta as MMETA

    samples = [b"frame0-data", b"xx", b"the third frame payload", b""]
    mp4 = MMETA.build_mp4_with_samples(
        samples, duration_ms=400, width=32, height=16
    )
    assert MMETA.extract_mp4_samples(mp4) == samples
    meta = MMETA.parse_mp4(mp4)
    assert (meta["width"], meta["height"], meta["duration_ms"]) == (32, 16, 400)
    # a metadata-only mp4 (no sample table) must refuse demux, not
    # return garbage slices
    import pytest

    plain = MMETA.build_mp4(duration_ms=100, width=8, height=8)
    with pytest.raises(ValueError, match="sample table"):
        MMETA.extract_mp4_samples(plain)


def test_avi_mjpeg_mux_demux_decode_roundtrip():
    """The MJPEG-AVI chain: JPEG-encode frames, mux into a real RIFF/AVI
    (hdrl/movi/idx1), parse the metadata back, demux byte-identical
    frame bitstreams, and decode real pixels at PSNR >= 25 dB — the
    honest video-frame path (no codec library)."""
    import numpy as np

    from pyblazing_spark.operators import media_meta as MMETA
    from pyblazing_spark.operators.jpeg import decode_jpeg, encode_jpeg

    srcs = [bytes(range(48)), bytes(range(100, 148)), b"\x80" * 48]
    jpegs = [encode_jpeg(4, 4, s, quality=95) for s in srcs]
    avi = MMETA.build_avi_mjpeg(jpegs, 4, 4, fps=30)
    meta = MMETA.parse_avi(avi)
    assert meta == {
        "format": "avi", "codec": "MJPG", "width": 4, "height": 4,
        "n_frames": 3, "fps": 30,
    }
    assert MMETA.probe(avi) == meta  # container sniff routes RIFF/AVI
    out = MMETA.extract_avi_frames(avi)
    assert out == jpegs  # demux must be byte-identical (lossy codec
    #                      inside a LOSSLESS container)
    for src, jpg in zip(srcs, out):
        w, h, rgb = decode_jpeg(jpg)
        a = np.frombuffer(src, np.uint8).astype(np.float64)
        b = np.frombuffer(rgb, np.uint8).astype(np.float64)
        mse = float(((a - b) ** 2).mean())
        assert (w, h) == (4, 4)
        assert mse == 0 or 10 * np.log10(255**2 / mse) >= 25.0
    # odd-length payload: spec requires even padding, demux must strip it
    avi2 = MMETA.build_avi_mjpeg([b"abc", b"defgh"], 2, 2)
    assert MMETA.extract_avi_frames(avi2) == [b"abc", b"defgh"]
    import pytest

    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        MMETA.extract_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="no video frame"):
        MMETA.extract_avi_frames(MMETA.build_avi_mjpeg([], 2, 2))


def test_extract_avi_frames_rec_list_interleave():
    """Frames grouped inside a 'rec ' LIST nested in movi (legal,
    common in interleaved AVIs) must still be demuxed (ADVICE r7 #3:
    in_movi was dropped when recursing into nested LISTs)."""
    import struct

    from pyblazing_spark.operators import media_meta as MMETA

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def lst(subtype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", subtype + payload)

    f1, f2 = b"frame-one!", b"frame-two"
    movi = lst(b"movi", lst(b"rec ", chunk(b"00dc", f1)) + chunk(b"00dc", f2))
    avi = chunk(b"RIFF", b"AVI " + movi)
    assert MMETA.extract_avi_frames(avi) == [f1, f2]


# ---- unsupported-WebP negative paths (graceful skip, never batch error)


def _webp_container(tag: bytes, payload: bytes) -> bytes:
    import struct

    chunk = tag + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _vp8l_header_blob(transform=0, color_cache=0, meta=0) -> bytes:
    """Minimal VP8L stream: signature + 2x2 geometry + the given flag
    bits set — enough to reach each NotImplementedError branch."""
    bits = [(1, 14), (1, 14), (0, 1), (0, 3)]  # w-1, h-1, alpha, version
    bits += [(transform, 1)]
    if not transform:
        bits += [(color_cache, 1)]
        if not color_cache:
            bits += [(meta, 1)]
    acc = n = 0
    for v, w in bits:
        acc |= v << n
        n += w
    payload = b"\x2f" + acc.to_bytes((n + 7) // 8 + 4, "little")
    return _webp_container(b"VP8L", payload)


_UNSUPPORTED_WEBPS = {
    "lossy_vp8": _webp_container(b"VP8 ", b"\x00" * 16),
    "extended_vp8x": _webp_container(b"VP8X", b"\x00" * 10),
    "vp8l_transform": _vp8l_header_blob(transform=1),
    "vp8l_color_cache": _vp8l_header_blob(color_cache=1),
    "vp8l_meta_prefix": _vp8l_header_blob(meta=1),
}


def test_unsupported_webp_raises_not_implemented_per_branch():
    """Each documented decoder hole must refuse loudly at the codec API
    (never fabricate pixels)."""
    import pytest

    from pyblazing_spark.operators.webp import decode_webp_lossless

    for name, blob in _UNSUPPORTED_WEBPS.items():
        with pytest.raises(NotImplementedError):
            decode_webp_lossless(blob)


def test_unsupported_webp_sniff_falls_through():
    """_sniff_decode must swallow the NotImplementedError and return
    None — the same graceful-skip path as any unrecognized buffer."""
    from pyblazing_spark.operators.multimodal import _sniff_decode

    for name, blob in _UNSUPPORTED_WEBPS.items():
        assert _sniff_decode(blob) is None, name


def test_unsupported_webp_through_arrow_kernels(spark):
    """A lossy/transform-bearing WebP row must not error the Arrow
    batch: decode_image falls back to the deterministic fake and
    image_dhash records a NULL hash; sibling rows decode normally."""
    from pyblazing_spark.operators.multimodal import (
        decode_image,
        encode_ppm,
        image_dhash,
    )

    ppm = encode_ppm(2, 2, bytes(range(12)))
    rows = [(0, bytearray(ppm))] + [
        (i + 1, bytearray(blob))
        for i, blob in enumerate(_UNSUPPORTED_WEBPS.values())
    ]
    blobs = spark.createDataFrame(rows, "doc_id long, content binary")
    dec = {r.doc_id: r for r in decode_image(blobs).collect()}
    assert len(dec) == len(rows)  # every row survived the batch
    assert (dec[0].width, dec[0].height) == (2, 2)  # real decode
    for i in range(1, len(rows)):  # fake path: side = isqrt(len(blob))
        n = len(rows[i][1])
        side = int(n**0.5)
        assert dec[i].width == side and dec[i].height == side
    dh = {r.doc_id: r.dhash for r in image_dhash(blobs).collect()}
    assert dh[0] is not None
    assert all(dh[i] is None for i in range(1, len(rows)))


def test_png_adam7_interlaced_decode():
    """Adam7 PNGs (foreign encoders; ours never emits them) must decode
    to the exact pixels: build interlaced files INDEPENDENTLY here
    (per-pass filter-0 scanlines per RFC 2083 §8.2) across dims that
    exercise empty passes (w or h < 8) and ragged pass widths."""
    import struct
    import zlib

    import numpy as np

    from pyblazing_spark.operators.multimodal import PNG_SIG, decode_png

    PASSES = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    def make_interlaced(w, h, px):
        raw = bytearray()
        for x0, y0, dx, dy in PASSES:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            for row in sub:
                raw += b"\x00" + row.tobytes()
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
        return (
            PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(7)
    for w, h in ((16, 16), (13, 9), (7, 5), (1, 1), (3, 17), (8, 2)):
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        got_w, got_h, rgb = decode_png(make_interlaced(w, h, px))
        assert (got_w, got_h) == (w, h)
        assert rgb == px.tobytes(), f"pixel mismatch at {w}x{h}"


def test_png_color_types_3_4_6_decode():
    """Palette (3), gray+alpha (4), and RGBA (6) PNGs — built
    independently here with filter-0 scanlines — must decode to the
    exact RGB pixels (palette looked up, alpha dropped), interlaced
    and non-interlaced alike."""
    import struct
    import zlib

    import numpy as np

    from pyblazing_spark.operators.multimodal import PNG_SIG, decode_png

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    def make(w, h, ct, samples, plte=b""):
        raw = bytearray()
        bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ct]
        for y in range(h):
            raw += b"\x00" + samples[y * w * bpp : (y + 1) * w * bpp]
        body = PNG_SIG + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0))
        if plte:
            body += chunk(b"PLTE", plte)
        return body + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")

    rng = np.random.default_rng(11)
    w, h = 9, 4
    # palette: 5 colors, random indices
    pal = rng.integers(0, 256, size=(5, 3), dtype=np.uint8)
    idx = rng.integers(0, 5, size=(h, w), dtype=np.uint8)
    gw, gh, rgb = decode_png(make(w, h, 3, idx.tobytes(), pal.tobytes()))
    assert (gw, gh) == (w, h) and rgb == pal[idx.reshape(-1)].tobytes()
    # gray+alpha: alpha dropped, gray replicated
    ga = rng.integers(0, 256, size=(h, w, 2), dtype=np.uint8)
    _, _, rgb = decode_png(make(w, h, 4, ga.tobytes()))
    assert rgb == np.repeat(ga[:, :, 0].reshape(-1), 3).tobytes()
    # RGBA: alpha dropped
    rgba = rng.integers(0, 256, size=(h, w, 4), dtype=np.uint8)
    _, _, rgb = decode_png(make(w, h, 6, rgba.tobytes()))
    assert rgb == rgba[:, :, :3].tobytes()
    # palette index out of range refuses loudly
    import pytest

    bad = make(w, h, 3, np.full(w * h, 7, np.uint8).tobytes(), pal.tobytes())
    with pytest.raises(ValueError, match="palette index"):
        decode_png(bad)


def test_bmp_32bpp_and_bitfields_decode():
    """32-bit BMPs (BGRA, plain or BI_BITFIELDS with standard masks),
    bottom-up and top-down, must decode to the same RGB as the 24-bit
    form; nonstandard masks refuse loudly."""
    import struct

    import numpy as np
    import pytest

    from pyblazing_spark.operators.multimodal import decode_bmp24

    rng = np.random.default_rng(13)
    w, h = 5, 3
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)

    def make32(top_down, bitfields):
        hdr_h = -h if top_down else h
        comp = 3 if bitfields else 0
        offset = 14 + 40 + (12 if bitfields else 0)
        rows = rgb if top_down else rgb[::-1]
        body = bytearray()
        for r in rows:
            for pxl in r:
                body += bytes([pxl[2], pxl[1], pxl[0], 0xAA])  # B,G,R,A
        out = b"BM" + struct.pack("<IHHI", offset + len(body), 0, 0, offset)
        out += struct.pack("<IiiHHIIiiII", 40, w, hdr_h, 1, 32, comp,
                           len(body), 2835, 2835, 0, 0)
        if bitfields:
            out += struct.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF)
        return out + bytes(body)

    for td in (False, True):
        for bf in (False, True):
            gw, gh, got = decode_bmp24(make32(td, bf))
            assert (gw, gh) == (w, h)
            assert got == rgb.tobytes(), f"top_down={td} bitfields={bf}"

    bad = bytearray(make32(False, True))
    struct.pack_into("<III", bad, 54, 0x0000FF00, 0x00FF0000, 0x000000FF)
    with pytest.raises(ValueError, match="bitfield masks"):
        decode_bmp24(bytes(bad))


def test_wav_pcm_widths_8_24_32():
    """Audio kernels must handle the PCM widths real tools emit: the
    same sine encoded at 8/16/24/32 bits must produce (nearly) the same
    normalized RMS and spectrum peak — width is a container detail, not
    a semantic one."""
    import io as _io
    import struct
    import wave

    import numpy as np

    from pyblazing_spark.operators.multimodal import _wav_norm

    n, rate = 256, 8000
    x = np.sin(2 * np.pi * 4 * np.arange(n) / n)  # 4 cycles

    def wav_bytes(width):
        buf = _io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(width)
            w.setframerate(rate)
            if width == 1:
                frames = (np.round(x * 127) + 128).astype(np.uint8).tobytes()
            elif width == 2:
                frames = np.round(x * 32767).astype("<i2").tobytes()
            elif width == 3:
                v = np.round(x * 8388607).astype(np.int64)
                frames = b"".join(
                    struct.pack("<i", int(s))[:3] for s in v
                )
            else:
                frames = np.round(x * 2147483647).astype("<i4").tobytes()
            w.writeframes(frames)
        return buf.getvalue()

    ref_rms = float(np.sqrt(np.mean(x * x)))
    for width in (1, 2, 3, 4):
        blob = wav_bytes(width)
        with wave.open(_io.BytesIO(blob)) as w:
            raw = w.readframes(w.getnframes())
            got = _wav_norm(raw, w.getsampwidth())
        assert got.shape == (n,)
        rms = float(np.sqrt(np.mean(got * got)))
        assert abs(rms - ref_rms) < 1e-2, (width, rms, ref_rms)
        peak = int(np.argmax(np.abs(np.fft.rfft(got))[1:])) + 1
        assert peak == 4, (width, peak)  # the sine's bin survives


def test_spread_is_conditional_on_observed_partitions(spark, tmp_path):
    """r15 (VERDICT r14 #8): spread_to_cores repartitions a narrow payload to
    full parallelism ONLY when the scan under-covers the cores; a
    many-files layout that already covers them must pass through with
    no RoundRobin exchange (the r14 gif/png probes measured that
    shuffle as pure cost)."""
    from pyblazing_spark.session import spread_to_cores

    cores = spark.sparkContext.defaultParallelism
    base = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("payload")
    )
    few = str(tmp_path / "few")
    many = str(tmp_path / "many")
    base.coalesce(1).write.parquet(few)
    base.repartition(cores * 2).write.parquet(many)

    under = spark.read.parquet(few)
    assert under.rdd.getNumPartitions() < cores
    assert "RoundRobinPartitioning" in spread_to_cores(under)._jdf.queryExecution().toString()

    covered = spark.read.parquet(many)
    assert covered.rdd.getNumPartitions() >= cores
    plan = spread_to_cores(covered)._jdf.queryExecution().toString()
    assert "RoundRobinPartitioning" not in plan
