"""Round-trip tests for the pure-stdlib media codecs
(functions/codecs.py): crafted BMP/PPM/PGM/PNG/WAV bytes decode back
to the exact pixels/samples that were encoded, plus hand-built
fixtures for decoder paths the encoders don't emit (top-down BMP,
PNG filter types, comment-bearing PNM headers)."""

from __future__ import annotations

import struct
import zlib

import pytest

from i3cols_spark.functions import codecs
from i3cols_spark.functions.codecs import AudioData, ImageData


def _rgb(w: int, h: int) -> bytes:
    return bytes((x * 7 + y * 13 + c * 29) % 256 for y in range(h) for x in range(w) for c in range(3))


@pytest.mark.parametrize("w,h", [(1, 1), (3, 2), (4, 4), (13, 7), (5, 1)])
def test_bmp_round_trip(w, h):
    img = ImageData(width=w, height=h, channels=3, pixels=_rgb(w, h))
    payload = codecs.encode_bmp(img)
    assert payload[:2] == b"BM"
    # declared file size matches actual bytes (header arithmetic)
    assert struct.unpack_from("<I", payload, 2)[0] == len(payload)
    out = codecs.decode_bmp(payload)
    assert (out.width, out.height, out.channels) == (w, h, 3)
    assert out.pixels == img.pixels


def test_bmp_top_down_variant():
    """Negative height = top-down row order; decoder must not flip."""
    w, h = 3, 2
    img = ImageData(width=w, height=h, channels=3, pixels=_rgb(w, h))
    payload = bytearray(codecs.encode_bmp(img))
    # flip to top-down: negate height, reverse the stored row order
    struct.pack_into("<i", payload, 22, -h)
    stride = (w * 3 + 3) // 4 * 4
    rows = [payload[54 + i * stride : 54 + (i + 1) * stride] for i in range(h)]
    payload[54:] = b"".join(reversed(rows))
    out = codecs.decode_bmp(bytes(payload))
    assert out.pixels == img.pixels


@pytest.mark.parametrize("channels", [1, 3])
def test_pnm_round_trip(channels):
    w, h = 6, 3
    pixels = bytes((i * 31) % 256 for i in range(w * h * channels))
    img = ImageData(width=w, height=h, channels=channels, pixels=pixels)
    out = codecs.decode_ppm(codecs.encode_ppm(img))
    assert (out.width, out.height, out.channels) == (w, h, channels)
    assert out.pixels == pixels


def test_pnm_header_comments():
    img = ImageData(width=2, height=2, channels=3, pixels=_rgb(2, 2))
    payload = codecs.encode_ppm(img)
    commented = payload.replace(b"P6\n", b"P6\n# a comment\n", 1)
    out = codecs.decode_ppm(commented)
    assert out.pixels == img.pixels


@pytest.mark.parametrize("channels", [1, 3, 4])
def test_png_round_trip(channels):
    w, h = 5, 4
    pixels = bytes((i * 17 + 3) % 256 for i in range(w * h * channels))
    img = ImageData(width=w, height=h, channels=channels, pixels=pixels)
    out = codecs.decode_png(codecs.encode_png(img))
    assert (out.width, out.height, out.channels) == (w, h, channels)
    assert out.pixels == pixels


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_all_filter_types(ftype):
    """Hand-build an IDAT stream using each scanline filter; decoding
    must invert it exactly (Sub/Up/Average/Paeth reconstruction)."""
    w, h, ch = 4, 3, 3
    pixels = _rgb(w, h)
    stride = w * ch

    def filt(line: bytes, prev: bytes) -> bytes:
        out = bytearray(line)
        for i in range(stride - 1, -1, -1):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ftype == 1:
                out[i] = (line[i] - a) & 0xFF
            elif ftype == 2:
                out[i] = (line[i] - b) & 0xFF
            elif ftype == 3:
                out[i] = (line[i] - (a + b) // 2) & 0xFF
            elif ftype == 4:
                out[i] = (line[i] - codecs._paeth(a, b, c)) & 0xFF
        return bytes(out)

    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = pixels[y * stride : (y + 1) * stride]
        raw += bytes([ftype]) + filt(line, prev)
        prev = line

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    payload = (
        codecs._PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    out = codecs.decode_png(payload)
    assert out.pixels == pixels


@pytest.mark.parametrize("sample_width", [1, 2, 4])
def test_wav_round_trip(sample_width):
    n_frames, channels = 37, 2
    frames = bytes((i * 11) % 256 for i in range(n_frames * channels * sample_width))
    audio = AudioData(
        sample_rate=16000, channels=channels, sample_width=sample_width,
        n_frames=n_frames, frames=frames,
    )
    payload = codecs.encode_wav(audio)
    out = codecs.decode_wav(payload)
    assert (out.sample_rate, out.channels, out.sample_width, out.n_frames) == (
        16000, channels, sample_width, n_frames,
    )
    assert out.frames == frames
    samples = codecs.pcm_samples(out)
    assert len(samples) == n_frames * channels
    if sample_width == 2:
        assert samples[0] == struct.unpack_from("<h", frames, 0)[0]


def test_wav_header_is_44_bytes():
    """The q_multimodal_features oracle states n_bytes = 44 + data;
    pin the stdlib wave module's PCM header size."""
    audio = AudioData(sample_rate=8000, channels=1, sample_width=2,
                      n_frames=5, frames=b"\x01\x02" * 5)
    payload = codecs.encode_wav(audio)
    assert len(payload) == 44 + 10


def test_decode_media_dispatch_and_gates():
    from i3cols_spark.functions.multimodal import decode_media

    img = ImageData(width=4, height=2, channels=3, pixels=_rgb(4, 2))
    d = decode_media("image/bmp", codecs.encode_bmp(img))
    assert (d["width"], d["height"]) == (4, 2)
    assert d["features"][:3] == [4.0, 2.0, 3.0]

    d = decode_media("image/png", codecs.encode_png(img))
    assert (d["width"], d["height"]) == (4, 2)

    audio = AudioData(sample_rate=9000, channels=1, sample_width=2,
                      n_frames=8, frames=bytes(16))
    d = decode_media("audio/wav", codecs.encode_wav(audio))
    assert (d["sample_rate"], d["n_frames"]) == (9000, 8)
    assert d["features"][:3] == [9000.0, 1.0, 8.0]

    # image/jpeg is REAL now (functions/jpeg.py) — truncated bytes are
    # a data error, not a capability gate.
    with pytest.raises(ValueError):
        decode_media("image/jpeg", b"\xff\xd8\xff")
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_media("image/webp", b"RIFF")
    with pytest.raises(NotImplementedError):
        decode_media("video/mp4", b"")


def test_resize_media_real_pixel_values(spark):
    """resize_media_real must produce the exact nearest-neighbor
    stride pixels/frames through a full decode -> resample -> re-encode
    -> decode cycle, not just plausible dimensions."""
    import numpy as np

    from i3cols_spark.functions.multimodal import resize_media_real

    w, h = 5, 4
    img = ImageData(width=w, height=h, channels=3, pixels=_rgb(w, h))
    audio = AudioData(
        sample_rate=12000, channels=1, sample_width=2,
        n_frames=7, frames=bytes(range(14)),
    )
    df = spark.createDataFrame(
        [
            (1, "image/bmp", bytearray(codecs.encode_bmp(img)), None, None, None, None),
            (2, "audio/wav", bytearray(codecs.encode_wav(audio)), None, None, None, None),
        ],
        "media_id long, media_type string, payload binary, width int, "
        "height int, sample_rate int, n_frames int",
    )
    rows = {r["media_id"]: r for r in resize_media_real(df, factor=2).collect()}

    out_img = codecs.decode_bmp(bytes(rows[1]["payload"]))
    exp = np.frombuffer(img.pixels, dtype=np.uint8).reshape(h, w, 3)[::2, ::2]
    assert (out_img.width, out_img.height) == (3, 2)
    assert (rows[1]["width"], rows[1]["height"]) == (3, 2)
    assert out_img.pixels == exp.tobytes()

    out_aud = codecs.decode_wav(bytes(rows[2]["payload"]))
    assert out_aud.n_frames == 4
    assert rows[2]["n_frames"] == 4
    exp_frames = np.frombuffer(audio.frames, dtype=np.uint8).reshape(7, 2)[::2]
    assert out_aud.frames == exp_frames.tobytes()
    assert out_aud.sample_rate == 12000


# ----------------------------------------------------------- JPEG


def _psnr(a, b):
    import numpy as np

    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


@pytest.mark.parametrize("w,h,channels", [(37, 21, 3), (16, 16, 1), (8, 8, 3), (1, 1, 3), (9, 5, 1)])
def test_jpeg_round_trip_dims_and_quality(w, h, channels):
    """Baseline JPEG is lossy: dims/channels round-trip exactly, pixel
    content within quantization error (PSNR-bounded) on a smooth
    gradient — the codec's own encode feeds its own decode through
    genuine SOI/DQT/SOF0/DHT/SOS/EOI bytes."""
    import numpy as np

    from i3cols_spark.functions.jpeg import decode_jpeg, encode_jpeg

    x, y = np.meshgrid(np.arange(w), np.arange(h))
    grad = (x * 255 // max(w - 1, 1) + y * 128 // max(h - 1, 1)) % 256
    px = np.stack([grad] * channels, axis=-1).astype(np.uint8)
    img = ImageData(width=w, height=h, channels=channels, pixels=px.tobytes())
    payload = encode_jpeg(img, quality=90)
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
    out = decode_jpeg(payload)
    assert (out.width, out.height, out.channels) == (w, h, channels)
    got = np.frombuffer(out.pixels, dtype=np.uint8).reshape(h, w, channels)
    assert _psnr(px, got) > 30.0


def test_jpeg_flat_block_is_exact_and_q100_checkerboard_lossless():
    import numpy as np

    from i3cols_spark.functions.jpeg import decode_jpeg, encode_jpeg

    flat = np.full((8, 8, 3), 77, np.uint8)
    out = decode_jpeg(encode_jpeg(ImageData(8, 8, 3, flat.tobytes()), quality=90))
    assert bytes(out.pixels) == flat.tobytes()

    cb = (np.indices((24, 24)).sum(axis=0) % 2 * 255).astype(np.uint8)[..., None]
    out = decode_jpeg(
        encode_jpeg(ImageData(24, 24, 1, cb.tobytes()), quality=100)
    )
    assert bytes(out.pixels) == cb.tobytes()  # exercises the AC-clamp path


def test_jpeg_gates_progressive_and_subsampled():
    """Per-feature gates: a progressive frame marker (SOF2) and a
    subsampled SOF0 raise NotImplementedError, truncated/invalid data
    raises ValueError."""
    import numpy as np

    from i3cols_spark.functions.jpeg import decode_jpeg, encode_jpeg

    px = np.zeros((8, 8, 1), np.uint8)
    good = encode_jpeg(ImageData(8, 8, 1, px.tobytes()), quality=85)
    # rewrite the SOF0 marker to SOF2 (progressive)
    sof = good.index(b"\xff\xc0")
    prog = good[:sof] + b"\xff\xc2" + good[sof + 2 :]
    with pytest.raises(NotImplementedError, match="progressive|SOF"):
        decode_jpeg(prog)
    # patch the sampling factors byte (h=2,v=2) inside SOF0
    sub = bytearray(good)
    sub[sof + 2 + 2 + 6 + 1] = 0x22  # first component's h/v factors
    with pytest.raises(NotImplementedError, match="subsampling"):
        decode_jpeg(bytes(sub))
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01\x02")


def test_jpeg_decodes_via_multimodal_dispatch():
    """decode_media routes image/jpeg to the real decoder and derives
    width/height from the decoded frame header."""
    import numpy as np

    from i3cols_spark.functions.jpeg import encode_jpeg
    from i3cols_spark.functions.multimodal import decode_media

    px = np.full((5, 11, 3), 120, np.uint8)
    payload = encode_jpeg(ImageData(11, 5, 3, px.tobytes()), quality=85)
    d = decode_media("image/jpeg", payload)
    assert (d["width"], d["height"]) == (11, 5)
    assert d["features"][:3] == [11.0, 5.0, 3.0]


def test_jpeg_accepts_fill_bytes_before_markers():
    """T.81 B.1.1.2: optional 0xFF fill bytes may precede any marker —
    conforming external encoders emit them (code-review r05 finding)."""
    import numpy as np

    from i3cols_spark.functions.jpeg import decode_jpeg, encode_jpeg

    px = np.full((8, 8, 3), 90, np.uint8)
    good = encode_jpeg(ImageData(8, 8, 3, px.tobytes()), quality=85)
    # insert a fill byte before the SOF0 marker
    sof = good.index(b"\xff\xc0")
    padded = good[:sof] + b"\xff" + good[sof:]
    out = decode_jpeg(padded)
    assert (out.width, out.height) == (8, 8)
    assert bytes(out.pixels) == px.tobytes()


def test_resize_media_real_gates_unsupported_real_formats(spark):
    """A PNG payload must make resize_media_real raise — the byte-
    stride fallback would emit corrupt bytes still labeled image/png
    (code-review r05 finding)."""
    import pytest as _pytest

    from i3cols_spark.functions.multimodal import resize_media_real

    img = ImageData(width=4, height=2, channels=3, pixels=_rgb(4, 2))
    df = spark.createDataFrame(
        [(1, "image/png", bytearray(codecs.encode_png(img)), None, None, None, None)],
        "media_id long, media_type string, payload binary, width int, "
        "height int, sample_rate int, n_frames int",
    )
    with _pytest.raises(Exception, match="no resize path for image/png"):
        resize_media_real(df, factor=2).collect()


# ------------------------------------------------------------- AVI/MJPEG

def test_avi_mjpeg_round_trip_bit_exact_flat_frames():
    import numpy as np

    from i3cols_spark.functions.avi import (
        VideoData, decode_mjpeg_avi, encode_mjpeg_avi,
    )
    from i3cols_spark.functions.jpeg import decode_jpeg, encode_jpeg

    levels = [0, 17, 100, 200, 255]
    frames = [
        encode_jpeg(
            ImageData(width=16, height=16, channels=1, pixels=bytes([v]) * 256),
            quality=100,
        )
        for v in levels
    ]
    payload = encode_mjpeg_avi(
        VideoData(width=16, height=16, fps=5, frames=frames)
    )
    vid = decode_mjpeg_avi(payload)
    assert (vid.width, vid.height, vid.fps) == (16, 16, 5)
    assert len(vid.frames) == len(levels)
    for v, jf in zip(levels, vid.frames):
        img = decode_jpeg(jf)
        px = np.frombuffer(img.pixels, dtype=np.uint8)
        assert (img.width, img.height, img.channels) == (16, 16, 1)
        assert (px == v).all()


def test_avi_odd_sized_frames_pad_to_even():
    from i3cols_spark.functions.avi import (
        VideoData, decode_mjpeg_avi, encode_mjpeg_avi,
    )

    # Hand-rolled odd-length "frames" exercise RIFF even-byte padding;
    # the parser must return the unpadded payloads verbatim.
    frames = [b"\xff\xd8odd", b"\xff\xd8even!", b"x"]
    payload = encode_mjpeg_avi(
        VideoData(width=4, height=4, fps=1, frames=frames)
    )
    vid = decode_mjpeg_avi(payload)
    assert vid.frames == frames


def test_avi_gates_and_errors():
    from i3cols_spark.functions.avi import (
        VideoData, decode_mjpeg_avi, encode_mjpeg_avi,
    )

    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_mjpeg_avi(b"RIFX????AVI ")
    # non-MJPG codec gate: patch the strh handler fourcc
    ok = bytearray(
        encode_mjpeg_avi(VideoData(width=4, height=4, fps=1, frames=[b"ab"]))
    )
    i = ok.find(b"vids") + 4
    ok[i : i + 4] = b"H264"
    with pytest.raises(NotImplementedError, match="MJPG only"):
        decode_mjpeg_avi(bytes(ok))
    # frame-count mismatch: corrupt the declared count
    bad = bytearray(
        encode_mjpeg_avi(
            VideoData(width=4, height=4, fps=1, frames=[b"ab", b"cd"])
        )
    )
    k = bad.find(b"avih") + 8 + 16  # dwTotalFrames field
    bad[k : k + 4] = struct.pack("<I", 9)
    with pytest.raises(ValueError, match="declares 9 frames"):
        decode_mjpeg_avi(bytes(bad))


# ------------------------------------------------------------------ GIF

def test_gif_lzw_round_trips_across_width_boundaries():
    import random

    from i3cols_spark.functions.gif import _lzw_decode, _lzw_encode

    rng = random.Random(7)
    for n in (1, 2, 255, 256, 511, 512, 1000, 5000, 20000):
        data = bytes(rng.randrange(256) for _ in range(n))
        assert _lzw_decode(_lzw_encode(data, 8), 8) == data, n
        rep = (b"abcab" * (n // 5 + 1))[:n]  # dictionary-heavy path
        assert _lzw_decode(_lzw_encode(rep, 8), 8) == rep, n


def test_gif_animation_round_trip_lossless():
    from i3cols_spark.functions.gif import GifData, decode_gif, encode_gif

    frames = [
        ImageData(16, 16, 1, bytes((i * 17 + j) % 256 for j in range(256)))
        for i in range(4)
    ]
    g = GifData(width=16, height=16, frames=frames, delays_cs=[10, 20, 30, 40])
    back = decode_gif(encode_gif(g))
    assert (back.width, back.height) == (16, 16)
    assert back.delays_cs == [10, 20, 30, 40]
    for a, b in zip(frames, back.frames):
        assert b.channels == 1 and a.pixels == b.pixels


def test_gif_decodes_external_spec_fixture():
    """The canonical 1×1 black GIF89a (produced by standard encoders,
    byte-identical across tools) — pins OUR decoder against external
    ground truth so a matched encode/decode bug pair cannot
    self-certify."""
    from i3cols_spark.functions.gif import decode_gif

    onepx = bytes.fromhex(
        "474946383961010001008000000000"
        "00ffffff21f90400000000002c0000"
        "0000010001000002024401003b"
    )
    d = decode_gif(onepx)
    assert (d.width, d.height, len(d.frames)) == (1, 1, 1)
    assert d.frames[0].pixels[:1] == b"\x00"  # palette entry 0 = black


def test_gif_gates_and_errors():
    from i3cols_spark.functions.gif import GifData, decode_gif, encode_gif

    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTGIF" + b"\x00" * 10)
    with pytest.raises(NotImplementedError, match="grayscale"):
        encode_gif(
            GifData(2, 2, [ImageData(2, 2, 3, bytes(12))], [0])
        )
    # interlace flag gate
    ok = bytearray(
        encode_gif(GifData(2, 2, [ImageData(2, 2, 1, bytes(4))], [0]))
    )
    # image descriptor sits after the 13-byte header, 768-byte
    # palette, and 8-byte GCE; search past the palette so a 0x2c
    # palette byte can't be mistaken for the descriptor
    i = ok.index(0x2C, 13 + 768)
    ok[i + 9] |= 0x40
    with pytest.raises(NotImplementedError, match="interlaced"):
        decode_gif(bytes(ok))


def test_gif_via_multimodal_dispatch():
    from i3cols_spark.functions.gif import GifData, encode_gif
    from i3cols_spark.functions.multimodal import decode_media

    payload = encode_gif(
        GifData(4, 2, [ImageData(4, 2, 1, bytes(range(8)))] * 3, [5, 5, 5])
    )
    d = decode_media("image/gif", payload)
    assert (d["width"], d["height"], d["n_frames"]) == (4, 2, 3)
    assert d["features"][:3] == [4.0, 2.0, 1.0]


# ----------------------------------------------------------------- TIFF

@pytest.mark.parametrize("w,h,ch", [(1, 1, 1), (5, 4, 3), (13, 7, 1)])
def test_tiff_round_trip(w, h, ch):
    px = bytes((x * 7 + 11) % 256 for x in range(w * h * ch))
    out = codecs.decode_tiff(codecs.encode_tiff(ImageData(w, h, ch, px)))
    assert (out.width, out.height, out.channels) == (w, h, ch)
    assert out.pixels == px


def test_tiff_big_endian_and_gates():
    # hand-built big-endian (MM) 2×1 grayscale file: SHORT IFD values
    # are left-justified in the 4-byte value field
    data = b"\x10\x20"
    ifd_off = 8 + len(data)
    ents = []

    def e(tag, typ, cnt, val):
        ents.append(
            struct.pack(">HHII", tag, typ, cnt, val if typ == 4 else val << 16)
        )

    e(256, 4, 1, 2); e(257, 4, 1, 1); e(258, 3, 1, 8)
    e(259, 3, 1, 1); e(262, 3, 1, 1); e(273, 4, 1, 8)
    e(277, 3, 1, 1); e(278, 4, 1, 1); e(279, 4, 1, 2)
    mm = (
        b"MM\x00*" + struct.pack(">I", ifd_off) + data
        + struct.pack(">H", len(ents)) + b"".join(ents)
        + struct.pack(">I", 0)
    )
    out = codecs.decode_tiff(mm)
    assert (out.width, out.height, out.channels, out.pixels) == (2, 1, 1, data)

    with pytest.raises(ValueError, match="not a TIFF"):
        codecs.decode_tiff(b"XX*\x00")
    lzw = bytearray(codecs.encode_tiff(ImageData(2, 1, 1, b"ab")))
    # flip the compression tag (259) value to 5 (LZW) — gated
    i = bytes(lzw).find(struct.pack("<HHI", 259, 3, 1))
    lzw[i + 8] = 5
    with pytest.raises(NotImplementedError, match="compression 5"):
        codecs.decode_tiff(bytes(lzw))


def test_tiff_via_multimodal_dispatch():
    from i3cols_spark.functions.multimodal import decode_media

    img = ImageData(4, 2, 3, _rgb(4, 2))
    d = decode_media("image/tiff", codecs.encode_tiff(img))
    assert (d["width"], d["height"]) == (4, 2)
    assert d["features"][:3] == [4.0, 2.0, 3.0]


# ---------------------------------------------------------------- MPEG audio


def _l1_stream(i=7, n=157):
    from i3cols_spark.functions import mpeg_audio

    nf, nb = n % 7 + 2, n % 6 + 2
    specs = [
        {(i + f) % 32: (nb, (n + f) % 63, [(i * 7 + f * 3) % (1 << nb)] * 12)}
        for f in range(nf)
    ]
    return mpeg_audio.encode_layer1(specs, rate_idx=n % 3, bitrate_idx=n % 3 + 2), specs


def test_mpeg_layer1_round_trip_exact():
    """Encode→decode recovers the closed-form requantized amplitude for
    every coded sample — the bitstream (header, allocation nibbles,
    scalefactors, interleaved nb-bit codes) is walked for real."""
    import numpy as np

    from i3cols_spark.functions import mpeg_audio

    payload, specs = _l1_stream()
    frames = mpeg_audio.decode_layer1(payload)
    assert len(frames) == len(specs)
    for fr, spec in zip(frames, specs):
        (sb, (nb, scf_idx, codes)), = spec.items()
        mask = np.zeros((32, 1), dtype=bool)
        mask[sb, 0] = True
        assert (fr.allocated == mask).all()
        expect = (
            2.0 * 2.0 ** (-scf_idx / 3.0)
            * ((codes[0] * 2.0 ** (1 - nb) - 1.0 + 2.0 ** (1 - nb))
               * (2.0 ** nb / (2.0 ** nb - 1.0)))
        )
        got = fr.subbands[:, sb, 0]
        assert np.allclose(got, expect, rtol=0, atol=1e-15)
        # non-allocated subbands are exactly silent
        others = fr.subbands[:, [s for s in range(32) if s != sb], 0]
        assert (others == 0.0).all()


@pytest.mark.parametrize("rate_idx,bitrate_idx", [(0, 2), (1, 3), (2, 4), (0, 14)])
def test_mpeg_header_fields_round_trip(rate_idx, bitrate_idx):
    from i3cols_spark.functions import mpeg_audio

    payload, _ = (
        mpeg_audio.encode_layer1(
            [{0: (3, 10, [1] * 12)}], rate_idx=rate_idx, bitrate_idx=bitrate_idx
        ),
        None,
    )
    info = mpeg_audio.stream_info(payload)
    assert info["sample_rate"] == mpeg_audio.SAMPLE_RATES[rate_idx]
    assert info["bitrate_kbps"] == mpeg_audio.BITRATES[1][bitrate_idx]
    assert info["layer"] == 1 and info["channels"] == 1
    assert info["n_frames"] == 1 and info["n_samples"] == 384


def test_mpeg_hypothesis_round_trip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from i3cols_spark.functions import mpeg_audio

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(0, 2),       # rate_idx
        st.integers(2, 6),       # bitrate_idx (roomy frames)
        st.integers(2, 10),      # nb
        st.integers(0, 62),      # scf_idx
        st.integers(0, 31),      # subband
        st.data(),
    )
    def check(rate_idx, bitrate_idx, nb, scf_idx, sb, data):
        import numpy as np

        codes = data.draw(
            st.lists(st.integers(0, (1 << nb) - 1), min_size=12, max_size=12)
        )
        payload = mpeg_audio.encode_layer1(
            [{sb: (nb, scf_idx, codes)}], rate_idx=rate_idx, bitrate_idx=bitrate_idx
        )
        (fr,) = mpeg_audio.decode_layer1(payload)
        scf = 2.0 * 2.0 ** (-scf_idx / 3.0)
        for s in range(12):
            expect = scf * (
                (codes[s] * 2.0 ** (1 - nb) - 1.0 + 2.0 ** (1 - nb))
                * (2.0 ** nb / (2.0 ** nb - 1.0))
            )
            assert abs(fr.subbands[s, sb, 0] - expect) < 1e-14

    check()


def test_mpeg_gates_and_errors():
    import pytest as _pytest

    from i3cols_spark.functions import mpeg_audio

    payload, _ = _l1_stream()
    # truncated frame
    with _pytest.raises(ValueError, match="truncated"):
        mpeg_audio.parse_frames(payload[:-1])
    # bad sync
    with _pytest.raises(ValueError, match="sync"):
        mpeg_audio.parse_header(b"\x00\x00\x00\x00")
    # MPEG-2 gated per-version
    b = bytearray(payload)
    b[1] = (b[1] & ~0x18) | 0x10  # version bits 10 = MPEG-2
    with _pytest.raises(NotImplementedError, match="MPEG-1"):
        mpeg_audio.parse_header(bytes(b))
    # forbidden bitrate index
    b = bytearray(payload)
    b[2] |= 0xF0
    with _pytest.raises(ValueError, match="bitrate"):
        mpeg_audio.parse_header(bytes(b))
    # Layer III frames parse (framing) but payload decode is gated
    hdr = bytes([0xFF, 0xE0 | 0x18 | 0x02 | 0x01, (1 << 4) | (0 << 2), 0x3 << 6])
    l3 = hdr + b"\x00" * (144 * 32000 // 44100 - 4)
    assert mpeg_audio.stream_info(l3)["layer"] == 3
    with _pytest.raises(NotImplementedError, match="Layer"):
        mpeg_audio.decode_layer1(l3)
    # scalefactor index range
    with _pytest.raises(ValueError):
        mpeg_audio.scalefactor(63)
    # empty synthesis input
    with _pytest.raises(ValueError, match="no frames"):
        mpeg_audio.synthesize_pcm([])


def test_mpeg_sync_scan_skips_id3v2_and_junk():
    """parse_frames must find the first real frame behind an ID3v2 tag
    or ripper junk — and not be fooled by a false 0xFFEx
    pattern inside the junk."""
    import pytest as _pytest

    from i3cols_spark.functions import mpeg_audio

    payload, specs = _l1_stream()
    clean = mpeg_audio.parse_frames(payload)
    # ID3v2: 'ID3' + ver + flags + syncsafe size 10 + 10 tag bytes
    tag = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 10]) + b"T" * 10
    tagged = mpeg_audio.parse_frames(tag + payload)
    assert [f.frame_bytes for f in tagged] == [f.frame_bytes for f in clean]
    # junk with a false sync (0xFF 0xE0 then an invalid header field)
    junk = b"\x00\xff\xe0\xff\x00junk"
    walked = mpeg_audio.parse_frames(junk + payload)
    assert len(walked) == len(clean)
    with _pytest.raises(ValueError, match="syncword"):
        mpeg_audio.parse_frames(b"\x00" * 64)


# ------------------------------------ polyphase filterbank (round 7)


def test_filterbank_noise_round_trip_snr():
    """analysis→synthesis on white noise: unity gain, exact 481-sample
    delay, SNR ≥ 70 dB (measured 78.3 at design time).  A single
    wrong window coefficient collapses this by tens of dB."""
    import numpy as np

    from i3cols_spark.functions import mpeg_audio

    rng = np.random.default_rng(7)
    x = rng.standard_normal(32 * 300)
    y = mpeg_audio.synthesize_subbands(mpeg_audio.analyze_pcm(x))
    d = mpeg_audio.FILTERBANK_DELAY
    seg_y, seg_x = y[d : d + 6000], x[:6000]
    g = float(np.dot(seg_y, seg_x) / np.dot(seg_x, seg_x))
    assert abs(g - 1.0) < 1e-3
    err = seg_y - g * seg_x
    snr = 10 * np.log10(np.dot(g * seg_x, g * seg_x) / np.dot(err, err))
    assert snr > 70.0, f"filterbank SNR degraded: {snr:.1f} dB"


@pytest.mark.parametrize("fnum", [1, 7, 20, 30])
def test_filterbank_sine_round_trip(fnum):
    """Sines across the band reconstruct at ≥ 70 dB with gain 1 — the
    amplitude-distortion (echo) check at specific frequencies."""
    import numpy as np

    from i3cols_spark.functions import mpeg_audio

    t = np.arange(32 * 200)
    x = np.sin(np.pi * (fnum / 32.0 + 1 / 64.0) * t + 0.3)
    y = mpeg_audio.synthesize_subbands(mpeg_audio.analyze_pcm(x))
    d = mpeg_audio.FILTERBANK_DELAY
    seg_y, seg_x = y[d : d + 4000], x[:4000]
    g = float(np.dot(seg_y, seg_x) / np.dot(seg_x, seg_x))
    err = seg_y - g * seg_x
    snr = 10 * np.log10(np.dot(g * seg_x, g * seg_x) / np.dot(err, err))
    assert abs(g - 1.0) < 1e-3 and snr > 70.0


def test_filterbank_impulse_delay_every_phase():
    """The cascade is 32-periodic in time: every input phase must peak
    at exactly pos+481 with residual energy ≤ −55 dB."""
    import numpy as np

    from i3cols_spark.functions import mpeg_audio

    for p in range(0, 32, 5):
        pos = 32 * 30 + p
        x = np.zeros(32 * 80)
        x[pos] = 1.0
        y = mpeg_audio.synthesize_subbands(mpeg_audio.analyze_pcm(x))
        peak = pos + mpeg_audio.FILTERBANK_DELAY
        assert int(np.argmax(np.abs(y))) == peak
        e = y.copy()
        e[peak] -= 1.0
        assert float(np.dot(e, e)) < 10 ** (-55 / 10)


def test_synthesize_pcm_places_energy_in_encoded_band():
    """encode → decode → synthesize → RE-ANALYZE: the dominant band of
    the waveform must be the single subband the encoder wrote — the
    end-to-end proof that synthesis maps subband k to the right
    frequencies."""
    import numpy as np

    from i3cols_spark.functions import mpeg_audio

    # Period-4 code modulation = subband-domain frequency π/2, which
    # the cosine modulation maps to the BAND CENTER (2k+1)π/64.  (A
    # constant code would be subband-domain DC, which lands on a band
    # EDGE — shared between two bands, so argmax would be ambiguous:
    # odd-indexed subbands are frequency-inverted in cosine-modulated
    # banks.)
    wave = [220, 128, 36, 128] * 3
    for sb in (0, 5, 17, 31):
        specs = [{sb: (8, 6, wave)} for _ in range(6)]
        payload = mpeg_audio.encode_layer1(specs, rate_idx=1, bitrate_idx=4)
        frames = mpeg_audio.decode_layer1(payload)
        pcm = mpeg_audio.synthesize_pcm(frames)
        assert pcm.shape == (6 * 384, 1)
        back = mpeg_audio.analyze_pcm(pcm[:, 0])
        band_energy = (back**2).sum(axis=0)
        assert int(np.argmax(band_energy)) == sb


def test_filterbank_window_is_swappable():
    """The docstring claims dropping in the bit-exact ISO Annex B.3
    table is a one-constant change: both filterbank directions must
    accept an explicit ``window=`` and actually use it (a scaled
    window must scale the output, and analysis/synthesis must accept
    the same array)."""
    import numpy as np

    from i3cols_spark.functions import mpeg_audio

    rng = np.random.default_rng(3)
    x = rng.standard_normal(32 * 60)
    h = mpeg_audio.prototype_window()
    default = mpeg_audio.synthesize_subbands(mpeg_audio.analyze_pcm(x))
    explicit = mpeg_audio.synthesize_subbands(
        mpeg_audio.analyze_pcm(x, window=h), window=h
    )
    assert np.array_equal(default, explicit)
    halved = mpeg_audio.synthesize_subbands(
        mpeg_audio.analyze_pcm(x, window=h), window=0.5 * h
    )
    assert np.allclose(halved, 0.5 * explicit)


def test_filterbank_window_embedding_stable():
    """The embedded prototype decodes to the same 512 float64 values
    every time (guards the base85 blob against accidental edits)."""
    import hashlib

    import numpy as np

    from i3cols_spark.functions import mpeg_audio

    h = mpeg_audio.prototype_window()
    assert h.shape == (512,) and h.dtype == np.float64
    digest = hashlib.sha256(h.tobytes()).hexdigest()
    assert digest == mpeg_audio.prototype_window_sha256()


def test_mpeg_via_multimodal_dispatch():
    from i3cols_spark.functions.multimodal import decode_media

    payload, specs = _l1_stream()
    d = decode_media("audio/mpeg", payload)
    assert d["sample_rate"] == 48000
    assert d["n_frames"] == len(specs)
    assert d["features"][0] == 48000.0 and d["features"][1] == 1.0
    assert len(d["features"]) > 3  # Layer I contributes subband samples


# ------------------------------------------------------- error contracts


def test_gif_frame_without_color_table_raises_value_error():
    """A frame with neither global nor local palette must hit the
    module's ValueError contract, not IndexError."""
    from i3cols_spark.functions.gif import decode_gif

    # Header + logical screen descriptor WITHOUT global color table
    # (flags 0x00), one image descriptor without local table, 2-bit LZW.
    payload = (
        b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0x00, 0, 0)
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0x00)
        + b"\x02\x02\x44\x01\x00"  # min code size 2, data, terminator
        + b"\x3b"
    )
    with pytest.raises(ValueError, match="color table"):
        decode_gif(payload)


def test_avi_truncated_header_chunks_raise_value_error():
    """avih/strh chunks whose declared size is too small for their
    fixed fields must raise ValueError, not struct.error."""
    from i3cols_spark.functions.avi import decode_mjpeg_avi

    def riff(*chunks: bytes) -> bytes:
        body = b"AVI " + b"".join(chunks)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    short_avih = b"avih" + struct.pack("<I", 8) + b"\x00" * 8
    with pytest.raises(ValueError, match="truncated AVI header"):
        decode_mjpeg_avi(riff(short_avih))

    short_strh = b"strh" + struct.pack("<I", 8) + b"vids" + b"\x00" * 4
    with pytest.raises(ValueError, match="truncated AVI header"):
        decode_mjpeg_avi(riff(short_strh))


def test_mpeg_stereo_encode_decode_synthesize():
    """Stereo Layer I: the spec's interleaved allocation/scalefactor/
    sample layout round-trips per channel (left carries sb 3, right
    sb 9, never crossed), dequantized values stay closed-form exact,
    and PCM synthesis emits [n, 2] with each channel's energy in ITS
    encoded band."""
    import numpy as np

    from i3cols_spark.functions import mpeg_audio

    wave = [220, 128, 36, 128] * 3
    specL = [{3: (8, 6, wave)} for _ in range(6)]
    specR = [{9: (8, 6, wave)} for _ in range(6)]
    blob = mpeg_audio.encode_layer1(specL, 1, 4, frame_specs_ch2=specR)
    info = mpeg_audio.stream_info(blob)
    assert info["channels"] == 2 and info["n_frames"] == 6
    frames = mpeg_audio.decode_layer1(blob)
    for fr in frames:
        assert fr.allocated[3, 0] and fr.allocated[9, 1]
        assert not fr.allocated[3, 1] and not fr.allocated[9, 0]
        # channels carry IDENTICAL code streams → identical dequant
        assert np.array_equal(fr.subbands[:, 3, 0], fr.subbands[:, 9, 1])
    pcm = mpeg_audio.synthesize_pcm(frames)
    assert pcm.shape == (6 * 384, 2)
    for ch, sb in ((0, 3), (1, 9)):
        back = mpeg_audio.analyze_pcm(pcm[:, ch])
        assert int(np.argmax((back**2).sum(axis=0))) == sb


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=13),
    h=st.integers(min_value=1, max_value=7),
    seed=st.integers(min_value=0, max_value=255),
)
def test_bmp_roundtrip_preserves_ahash(w, h, seed):
    """encode_bmp → decode_bmp must preserve the perceptual hash for
    ANY fixture-range geometry — row padding or channel-order bugs in
    either codec would flip bits (the gray sum is channel-order
    invariant, so only REAL byte corruption can break this)."""
    from i3cols_spark.functions.multimodal import ahash_bits

    px = bytes((seed + 7 * i) % 256 for i in range(w * h * 3))
    img = ImageData(width=w, height=h, channels=3, pixels=px)
    out = codecs.decode_bmp(codecs.encode_bmp(img))
    assert (out.width, out.height) == (w, h)
    assert ahash_bits(out.width, out.height, out.pixels) == ahash_bits(w, h, px)


@settings(max_examples=25, deadline=None)
@given(
    frames=st.integers(min_value=1, max_value=50),
    seed=st.integers(min_value=0, max_value=255),
)
def test_wav_roundtrip_preserves_fingerprint(frames, seed):
    """encode_wav → decode_wav → pcm_samples must preserve the
    delta-sign fingerprint for any fixture-range clip length — a
    sample-width, endianness, or frame-count bug shifts deltas."""
    from i3cols_spark.functions.multimodal import audio_delta_fingerprint

    raw = bytes((seed + 11 * i) % 256 for i in range(2 * frames))
    audio = AudioData(
        sample_rate=8000, channels=1, sample_width=2,
        n_frames=frames, frames=raw,
    )
    out = codecs.decode_wav(codecs.encode_wav(audio))
    assert out.n_frames == frames
    got = audio_delta_fingerprint(codecs.pcm_samples(out))
    want = audio_delta_fingerprint(codecs.pcm_samples(audio))
    assert got == want
