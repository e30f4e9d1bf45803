"""Pure-stdlib media codecs — the honest baseline behind the
multimodal operators (SURVEY north-star).

The container has no Pillow/librosa, but several real formats are
decodable with nothing beyond ``struct``/``zlib``/``wave``:

- **BMP** (Windows V3, 24-bit BI_RGB, bottom-up or top-down)
- **PPM / PGM** (binary ``P6`` / ``P5``)
- **PNG** (8-bit depth, color types 0/2/6, non-interlaced; zlib
  inflate + per-scanline unfilter incl. Paeth)
- **WAV** (PCM via the stdlib ``wave`` module; 8/16/32-bit)
- **JPEG** (baseline sequential DCT, grayscale / 4:4:4 — numpy DCT +
  canonical Huffman in ``functions/jpeg.py``; lossy, so tests bound
  PSNR instead of byte equality)

Each format has an encoder too, so tests round-trip crafted media
through encode→decode and the synthetic-fixture attach step can build
REAL payload bytes whose structural properties (width/height/frames)
are closed-form expressible in the DuckDB oracle.

Codecs that genuinely need external libraries (MP3, video) remain
behind ``NotImplementedError``, as do unsupported per-format features
(progressive/subsampled JPEG) — the gate is per-feature, not a
blanket stub.

Scale note: these run inside Arrow-batched ``mapInPandas`` workers;
they allocate only per-payload buffers, never per-partition state, so
executor memory is bounded by one Arrow batch of payloads regardless
of dataset size.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib
from dataclasses import dataclass


@dataclass
class ImageData:
    width: int
    height: int
    channels: int  # 1=gray, 3=RGB, 4=RGBA
    pixels: bytes  # row-major, top-down, interleaved channels


@dataclass
class AudioData:
    sample_rate: int
    channels: int
    sample_width: int  # bytes per sample
    n_frames: int
    frames: bytes  # raw interleaved PCM


# ---------------------------------------------------------------- BMP

def encode_bmp(img: ImageData) -> bytes:
    """24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up rows,
    BGR byte order, rows padded to 4 bytes)."""
    if img.channels != 3:
        raise ValueError("encode_bmp: 24-bit encoder needs channels=3")
    import numpy as np

    w, h = img.width, img.height
    row_stride = (w * 3 + 3) // 4 * 4
    rgb = np.frombuffer(img.pixels, dtype=np.uint8).reshape(h, w, 3)
    rows = np.zeros((h, row_stride), dtype=np.uint8)
    rows[:, : w * 3] = rgb[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    data = rows.tobytes()
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(data), 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + info + data


def decode_bmp(payload: bytes) -> ImageData:
    """Decode 24-bit BI_RGB BMP (the encoder's format plus top-down
    negative-height variants)."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("decode_bmp: not a BMP payload")
    offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("decode_bmp: BITMAPCOREHEADER not supported")
    w, h_raw = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"decode_bmp: bpp={bpp} compression={compression}")
    import numpy as np

    top_down = h_raw < 0
    h = abs(h_raw)
    row_stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=h * row_stride, offset=offset
    ).reshape(h, row_stride)
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    rgb = (bgr if top_down else bgr[::-1])[:, :, ::-1]
    return ImageData(width=w, height=h, channels=3, pixels=rgb.tobytes())


# ----------------------------------------------------------- PPM/PGM

def encode_ppm(img: ImageData) -> bytes:
    if img.channels == 3:
        return b"P6\n%d %d\n255\n" % (img.width, img.height) + img.pixels
    if img.channels == 1:
        return b"P5\n%d %d\n255\n" % (img.width, img.height) + img.pixels
    raise ValueError("encode_ppm: channels must be 1 or 3")


def _read_pnm_token(buf: bytes, pos: int) -> tuple[bytes, int]:
    while pos < len(buf):
        if buf[pos : pos + 1].isspace():
            pos += 1
        elif buf[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
        else:
            break
    start = pos
    while pos < len(buf) and not buf[pos : pos + 1].isspace():
        pos += 1
    return buf[start:pos], pos


def decode_ppm(payload: bytes) -> ImageData:
    """Binary PPM (P6) / PGM (P5) with comment-tolerant headers."""
    magic, pos = _read_pnm_token(payload, 0)
    if magic not in (b"P6", b"P5"):
        raise ValueError(f"decode_ppm: unsupported magic {magic!r}")
    channels = 3 if magic == b"P6" else 1
    w_tok, pos = _read_pnm_token(payload, pos)
    h_tok, pos = _read_pnm_token(payload, pos)
    maxval_tok, pos = _read_pnm_token(payload, pos)
    w, h, maxval = int(w_tok), int(h_tok), int(maxval_tok)
    if maxval != 255:
        raise NotImplementedError("decode_ppm: only maxval=255")
    pos += 1  # single whitespace byte after maxval
    n = w * h * channels
    pixels = payload[pos : pos + n]
    if len(pixels) != n:
        raise ValueError("decode_ppm: truncated pixel data")
    return ImageData(width=w, height=h, channels=channels, pixels=pixels)


# ---------------------------------------------------------------- PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # gray, RGB, RGBA


def encode_png(img: ImageData) -> bytes:
    """8-bit non-interlaced PNG, filter type 0 on every scanline."""
    color_type = {1: 0, 3: 2, 4: 6}.get(img.channels)
    if color_type is None:
        raise ValueError("encode_png: channels must be 1, 3 or 4")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", img.width, img.height, 8, color_type, 0, 0, 0)
    stride = img.width * img.channels
    raw = b"".join(
        b"\x00" + img.pixels[y * stride : (y + 1) * stride] for y in range(img.height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> ImageData:
    """8-bit-depth non-interlaced PNG, color types 0/2/6, all five
    scanline filters (None/Sub/Up/Average/Paeth)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("decode_png: bad signature")
    pos, width = 8, None
    idat = bytearray()
    while pos + 8 <= len(payload):
        length, tag = struct.unpack_from(">I4s", payload, pos)
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
                raise NotImplementedError(
                    f"decode_png: depth={depth} color_type={color_type} "
                    f"interlace={interlace}"
                )
            channels = _PNG_CHANNELS[color_type]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("decode_png: missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    out = bytearray(height * stride)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
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
            elif ftype != 0:
                raise ValueError(f"decode_png: bad filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return ImageData(width=width, height=height, channels=channels, pixels=bytes(out))


# ---------------------------------------------------------------- WAV

def encode_wav(audio: AudioData) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(audio.channels)
        w.setsampwidth(audio.sample_width)
        w.setframerate(audio.sample_rate)
        w.writeframes(audio.frames)
    return buf.getvalue()


def decode_wav(payload: bytes) -> AudioData:
    """PCM WAV via the stdlib ``wave`` module (8/16/32-bit)."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        n = w.getnframes()
        return AudioData(
            sample_rate=w.getframerate(),
            channels=w.getnchannels(),
            sample_width=w.getsampwidth(),
            n_frames=n,
            frames=w.readframes(n),
        )


def pcm_samples(audio: AudioData) -> list[int]:
    """Interleaved integer sample values from raw PCM frames (8-bit
    unsigned, 16/32-bit signed little-endian, per WAV convention)."""
    sw = audio.sample_width
    if sw == 1:
        return list(audio.frames)
    fmt = {2: "<h", 4: "<i"}.get(sw)
    if fmt is None:
        raise NotImplementedError(f"pcm_samples: sample_width={sw}")
    return [
        struct.unpack_from(fmt, audio.frames, i)[0]
        for i in range(0, len(audio.frames) - sw + 1, sw)
    ]


# ---------------------------------------------------------------- TIFF

#: Baseline TIFF tags used by the encoder/decoder.
_TIFF_TAGS = {
    256: "width", 257: "height", 258: "bits_per_sample",
    259: "compression", 262: "photometric", 273: "strip_offsets",
    277: "samples_per_pixel", 278: "rows_per_strip",
    279: "strip_byte_counts",
}


def encode_tiff(img: ImageData) -> bytes:
    """Baseline little-endian TIFF: uncompressed 8-bit grayscale
    (channels=1) or RGB (channels=3), single strip, one IFD."""
    if img.channels not in (1, 3):
        raise NotImplementedError("encode_tiff: channels must be 1 or 3")
    data = img.pixels
    # layout: 8-byte header, pixel data, then the IFD
    data_off = 8
    ifd_off = data_off + len(data)
    photometric = 1 if img.channels == 1 else 2  # BlackIsZero / RGB

    entries = []

    def entry(tag: int, typ: int, count: int, value: int) -> None:
        entries.append(struct.pack("<HHI", tag, typ, count) + struct.pack("<I", value))

    # SHORT=3, LONG=4.  bits_per_sample for RGB needs 3 shorts — store
    # them after the IFD and point at them.
    bits_off = ifd_off + 2 + 12 * 9 + 4
    entry(256, 4, 1, img.width)
    entry(257, 4, 1, img.height)
    if img.channels == 1:
        entry(258, 3, 1, 8)
    else:
        entry(258, 3, 3, bits_off)
    entry(259, 3, 1, 1)          # no compression
    entry(262, 3, 1, photometric)
    entry(273, 4, 1, data_off)   # single strip
    entry(277, 3, 1, img.channels)
    entry(278, 4, 1, img.height)
    entry(279, 4, 1, len(data))
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += data
    out += struct.pack("<H", len(entries)) + b"".join(entries)
    out += struct.pack("<I", 0)  # next-IFD pointer: none
    if img.channels == 3:
        out += struct.pack("<HHH", 8, 8, 8)
    return bytes(out)


def decode_tiff(payload: bytes) -> ImageData:
    """Parse a baseline TIFF (little- or big-endian, uncompressed
    8-bit, strip-organized).  Gated per-feature: compressed,
    tiled, non-8-bit, and palette TIFFs raise NotImplementedError."""
    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload")
    (ifd_off,) = struct.unpack_from(bo + "I", payload, 4)
    (n_entries,) = struct.unpack_from(bo + "H", payload, ifd_off)
    type_size = {1: 1, 3: 2, 4: 4}
    tags: dict[int, list[int]] = {}
    for k in range(n_entries):
        tag, typ, count = struct.unpack_from(
            bo + "HHI", payload, ifd_off + 2 + 12 * k
        )
        if typ not in type_size:
            continue  # RATIONAL etc. — not needed for baseline decode
        sz = type_size[typ] * count
        voff = ifd_off + 2 + 12 * k + 8
        if sz > 4:
            (voff,) = struct.unpack_from(bo + "I", payload, voff)
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(
            struct.unpack_from(bo + str(count) + fmt, payload, voff)
        )
    try:
        width, height = tags[256][0], tags[257][0]
        strip_offsets = tags[273]
        strip_counts = tags[279]
    except KeyError as exc:
        raise ValueError(f"TIFF missing required tag: {exc}") from exc
    compression = tags.get(259, [1])[0]
    if compression != 1:
        raise NotImplementedError(
            f"TIFF compression {compression} not supported (uncompressed only)"
        )
    bits = tags.get(258, [8])
    if any(b != 8 for b in bits):
        raise NotImplementedError("TIFF bit depths other than 8 not supported")
    photometric = tags.get(262, [1])[0]
    if photometric == 3:
        raise NotImplementedError("palette TIFF not supported")
    channels = tags.get(277, [1])[0]
    if channels not in (1, 3):
        raise NotImplementedError(f"TIFF samples_per_pixel {channels}")
    data = b"".join(
        payload[o : o + c] for o, c in zip(strip_offsets, strip_counts)
    )
    expected = width * height * channels
    if len(data) != expected:
        raise ValueError(
            f"TIFF strips hold {len(data)} bytes, expected {expected}"
        )
    return ImageData(width=width, height=height, channels=channels, pixels=data)
