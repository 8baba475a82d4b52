"""Multimodal plumbing: payload/metadata columns, the Arrow decode
stage (stubbed kernel), frame sampling, and determinism."""

import pytest

from distributed_system_mapreduce_spark.operators import multimodal as M
from tests.conftest import SF_DIR


def test_payloads_are_binary_with_typed_meta(spark):
    from distributed_system_mapreduce_spark.tables import load_table

    mm = M.attach_payloads(load_table(spark, "documents", SF_DIR))
    types = dict(mm.dtypes)
    assert types["payload"] == "binary"
    assert types["media_type"] == "string"
    assert types["meta"].startswith("struct")
    assert set(r["media_type"] for r in
               mm.select("media_type").distinct().collect()) == set(
                   M.MEDIA_TYPES)


def test_decode_features_schema_and_determinism(spark):
    a = M.multimodal_decode(spark, SF_DIR)
    rows1 = {r["doc_id"]: tuple(r) for r in a.collect()}
    rows2 = {r["doc_id"]: tuple(r) for r in
             M.multimodal_decode(spark, SF_DIR).collect()}
    assert rows1 == rows2
    assert len(rows1) == 500
    some = next(iter(rows1.values()))
    assert len(some) == 10


def test_media_specific_fields(spark):
    decoded = M.multimodal_decode(spark, SF_DIR)
    img = decoded.filter("media_type = 'image'").first()
    assert img["width"] and img["height"] and img["sample_rate"] is None
    aud = decoded.filter("media_type = 'audio'").first()
    assert aud["sample_rate"] and aud["width"] is None
    vid = decoded.filter("media_type = 'video'").first()
    assert vid["n_frames"] and vid["n_channels"] == 3


def test_frame_sample_every_24(spark):
    fs = M.multimodal_frame_sample = M.frame_sample(spark, SF_DIR)
    r = fs.groupBy("doc_id").count().first()
    assert r["count"] >= 1
    idx = [x["frame_idx"] for x in
           fs.filter(fs.doc_id == r["doc_id"]).collect()]
    assert idx == list(range(0, max(idx) + 1, 24))


def _make_png(width, height, ctype, pixel_fn, filters=(0, 1, 2, 3, 4)):
    """Minimal stdlib PNG encoder: 8-bit, cycling scanline filters so
    the decoder's defilter paths (None/Sub/Up/Average/Paeth) all run."""
    import struct
    import zlib

    nch = M._PNG_CHANNELS[ctype]

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    raster = [[pixel_fn(x, y, c) & 0xFF
               for x in range(width) for c in range(nch)]
              for y in range(height)]
    raw = bytearray()
    prev = [0] * (width * nch)
    for y, line in enumerate(raster):
        flt = filters[y % len(filters)]
        raw.append(flt)
        enc = []
        for x, v in enumerate(line):
            a = line[x - nch] if x >= nch else 0
            b = prev[x]
            c = prev[x - nch] if x >= nch else 0
            if flt == 0:
                pred = 0
            elif flt == 1:
                pred = a
            elif flt == 2:
                pred = b
            elif flt == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
            enc.append((v - pred) & 0xFF)
        raw.extend(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    mean = sum(sum(l) for l in raster) / (width * height * nch)
    return (M._PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")), mean


def _make_wav(nch, rate, n_frames):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(rate)
        for i in range(n_frames):
            s = int(12000 * math.sin(i / 7.0))
            w.writeframes(struct.pack("<h", s) * nch)
    return buf.getvalue()


def test_decode_real_png_roundtrip():
    """decode_real fully decodes a real PNG: dims, channels, and the
    defiltered pixel values (mean) must match what was encoded, for
    every color type and all five scanline filters."""
    for ctype in (0, 2, 4, 6):
        payload, mean = _make_png(
            13, 9, ctype, lambda x, y, c: x * 31 + y * 17 + c * 7)
        out = M.decode_real(payload, "image")
        assert (out["width"], out["height"]) == (13, 9)
        assert out["n_channels"] == M._PNG_CHANNELS[ctype]
        assert abs(out["mean_pixel"] - mean) < 1e-9, ctype
    with pytest.raises(ValueError):
        M.decode_real(b"not a png", "image")


def test_decode_real_wav_roundtrip():
    payload = _make_wav(2, 16000, 8000)
    out = M.decode_real(payload, "audio")
    assert out["n_channels"] == 2
    assert out["sample_rate"] == 16000
    assert out["n_frames"] == 8000
    assert out["duration_ms"] == 500


def test_decode_real_avi_demux_roundtrip():
    """decode_real demuxes a real AVI container: dims/frame count/
    duration come from the parsed headers, and the mean pixel from
    the DECODED bottom-up DIB rasters (alignment padding excluded)
    matches the closed form the encoder wrote."""
    for did in (2, 5, 11, 20):
        w, h, nf = M._rt_vid_params(did)
        out = M.decode_real(M._encode_avi_rgb(did), "video")
        assert (out["width"], out["height"]) == (w, h)
        assert out["n_channels"] == 3
        assert out["n_frames"] == nf
        assert out["duration_ms"] == nf * 100
        n = w * h * 3
        want = sum((did * 37 + f * 31 + k) % 256
                   for f in range(nf) for k in range(n)) / (nf * n)
        assert abs(out["mean_pixel"] - want) < 1e-9, did
    with pytest.raises(ValueError):
        M.decode_real(b"not an avi", "video")


def test_decode_real_avi_rejects_corruption_and_compression():
    import struct

    payload = M._encode_avi_rgb(8)
    # truncated container: a chunk overruns
    with pytest.raises(ValueError):
        M.decode_real(payload[:-10], "video")
    # frame-count mismatch: lie in avih's dwTotalFrames
    idx = payload.find(b"avih") + 8 + 16
    bad = payload[:idx] + struct.pack("<I", 99) + payload[idx + 4:]
    with pytest.raises(ValueError):
        M.decode_real(bad, "video")
    # MJPG fourcc now routes to the real JPEG decoder — raw DIB bytes
    # are not valid JPEG frames, so corruption surfaces, never silent
    # wrong output
    idx = payload.find(b"strf") + 8 + 16
    mjpg = payload[:idx] + b"MJPG" + payload[idx + 4:]
    with pytest.raises(ValueError):
        M.decode_real(mjpg, "video")
    # any other compressed codec (H.264 here) has no built-in decoder
    h264 = payload[:idx] + b"H264" + payload[idx + 4:]
    with pytest.raises(NotImplementedError):
        M.decode_real(h264, "video")


def test_decode_real_avi_audio_first_and_truncated_headers():
    """An AVI whose FIRST strl is the audio stream must not have its
    WAVEFORMAT strf parsed as geometry (the strf gate keys on the
    preceding strh fccType), and truncated header chunks raise
    ValueError, not struct.error."""
    import struct

    def chunk(cc, data):
        return (cc + struct.pack("<I", len(data)) + data
                + (b"\x00" if len(data) & 1 else b""))

    def lst(subtype, data):
        return chunk(b"LIST", subtype + data)

    payload = M._encode_avi_rgb(8)
    # splice an audio strl AHEAD of the video strl inside hdrl: its
    # strf is a 16-byte WAVEFORMATEX stub that a BITMAPINFOHEADER
    # parse would misread as insane geometry
    auds_strh = struct.pack("<4s4sIHHIIIIIIII4h", b"auds", b"\x01\x00\x00\x00",
                            0, 0, 0, 0, 1, 8000, 0, 80, 16, 0, 0,
                            0, 0, 0, 0)
    auds_strf = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    audio_strl = lst(b"strl", chunk(b"strh", auds_strh)
                     + chunk(b"strf", auds_strf))
    i = payload.find(b"strl") - 8  # start of the vids strl LIST chunk
    spliced = payload[:i] + audio_strl + payload[i:]
    # fix up the enclosing hdrl LIST and RIFF sizes
    grown = len(audio_strl)
    h = spliced.find(b"hdrl") - 4
    spliced = (spliced[:h] + struct.pack(
        "<I", struct.unpack("<I", spliced[h:h + 4])[0] + grown)
        + spliced[h + 4:])
    spliced = (spliced[:4] + struct.pack(
        "<I", struct.unpack("<I", spliced[4:8])[0] + grown)
        + spliced[8:])
    out = M.decode_real(spliced, "video")
    want = M.decode_real(payload, "video")
    assert out == want  # geometry came from the vids strf, unchanged
    # truncated avih payload: ValueError, not struct.error
    i = payload.find(b"avih")
    trunc = (payload[:i] + chunk(b"avih", b"\x00" * 8)
             + payload[i + 8 + 56:])
    with pytest.raises(ValueError):
        M.decode_real(trunc, "video")


def test_decode_features_with_real_kernel(spark):
    """The SAME Arrow decode stage runs the real kernel over genuinely
    encoded PNG/WAV/AVI payloads — proving the plumbing is
    kernel-agnostic (schema, batching, null handling), not
    stub-shaped."""
    png, _ = _make_png(20, 10, 2, lambda x, y, c: x + y + c)
    wav = _make_wav(1, 8000, 2000)
    avi = M._encode_avi_rgb(7)
    rows = [(1, bytearray(png), "image"), (2, bytearray(wav), "audio"),
            (3, bytearray(avi), "video")]
    mm = spark.createDataFrame(
        rows, "doc_id long, payload binary, media_type string")
    out = {r["doc_id"]: r for r in
           M.decode_features(mm, kernel=M.decode_real).collect()}
    img, aud, vid = out[1], out[2], out[3]
    assert (img["width"], img["height"], img["n_channels"]) == (20, 10, 3)
    assert img["n_bytes"] == len(png)
    assert (aud["sample_rate"], aud["n_frames"],
            aud["duration_ms"]) == (8000, 2000, 250)
    w7, h7, nf7 = M._rt_vid_params(7)
    assert (vid["width"], vid["height"], vid["n_frames"]) == (w7, h7, nf7)


# ------------------------------------------------- baseline JPEG / MJPG
def test_jpeg_constant_blocks_roundtrip_lossless():
    """The property the oracle gate rides on: an image of CONSTANT 8x8
    blocks survives encode->decode bit-exactly (only the DC term is
    nonzero and its quantizer divides it exactly — functions/jpeg.py
    docstring)."""
    import numpy as np

    from distributed_system_mapreduce_spark.functions import jpeg

    h, w = 16, 24
    px = np.zeros((h, w), dtype=np.uint8)
    bi = 0
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            px[by:by + 8, bx:bx + 8] = (37 + bi * 17) % 256
            bi += 1
    out = jpeg.decode_gray(jpeg.encode_gray(px))
    assert out["width"] == w and out["height"] == h
    assert out["n_channels"] == 1
    assert (out["raster"] == px).all()
    assert out["pixel_sum"] == int(px.astype(int).sum())


def test_jpeg_arbitrary_content_bounded_error_and_odd_dims():
    """Real content roundtrips within quantization error (flat AC step
    16 -> worst-case block error well under 32 even on noise), and
    non-multiple-of-8 dims pad to the block grid and crop back."""
    import numpy as np

    from distributed_system_mapreduce_spark.functions import jpeg

    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, size=(24, 40), dtype=np.int64
                         ).astype(np.uint8)
    out = jpeg.decode_gray(jpeg.encode_gray(noise))
    err = np.abs(out["raster"].astype(int) - noise.astype(int))
    assert err.max() <= 32, err.max()

    gy, gx = np.mgrid[0:19, 0:21]
    smooth = np.clip(gy * 5 + gx * 3, 0, 255).astype(np.uint8)
    out2 = jpeg.decode_gray(jpeg.encode_gray(smooth))
    assert out2["width"] == 21 and out2["height"] == 19
    err2 = np.abs(out2["raster"].astype(int) - smooth.astype(int))
    assert err2.max() <= 16, err2.max()


def test_jpeg_decoder_rejects_malformed():
    import numpy as np

    from distributed_system_mapreduce_spark.functions import jpeg

    with pytest.raises(ValueError):
        jpeg.decode_gray(b"not a jpeg")
    enc = jpeg.encode_gray(np.full((8, 8), 7, dtype=np.uint8))
    with pytest.raises(ValueError):
        jpeg.decode_gray(enc[:-4])  # EOI gone -> truncated


def test_decode_real_mjpg_avi_matches_closed_form():
    """The compressed-video path end to end: encode an MJPG AVI,
    demux + JPEG-decode every frame through decode_real, and the
    decoded mean equals the closed-form block mean (losslessness of
    the constant-block construction)."""
    for did in (0, 1, 2, 3, 4, 5, 11, 17):
        nbx, nby, nf = M._mjpg_params(did)
        out = M.decode_real(M._encode_avi_mjpg(did), "video")
        assert out["width"] == 8 * nbx and out["height"] == 8 * nby
        assert out["n_channels"] == 1
        assert out["n_frames"] == nf
        assert out["duration_ms"] == nf * 100
        want = sum(
            (did * 37 + f * 29 + bi * 17) % 256
            for f in range(nf) for bi in range(nbx * nby)
        ) / (nf * nbx * nby)
        assert out["mean_pixel"] == want, (did, out["mean_pixel"], want)


def test_decode_real_mjpg_rejects_frame_geometry_lies():
    """An MJPG container whose strf dims disagree with the encoded
    frames must raise, not return wrong geometry."""
    import struct

    payload = M._encode_avi_mjpg(4)
    idx = payload.find(b"strf") + 8 + 4
    bad = payload[:idx] + struct.pack("<i", 999) + payload[idx + 4:]
    with pytest.raises(ValueError):
        M.decode_real(bad, "video")
