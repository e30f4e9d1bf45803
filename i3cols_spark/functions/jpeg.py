"""Baseline JPEG (ITU-T T.81 sequential DCT) encoder + decoder in
numpy + stdlib — closing the last per-format gate in the multimodal
codec surface (BMP/PPM/PGM/PNG/WAV went real in round 5; JPEG was the
one image format still behind ``NotImplementedError``).

Scope — the honest baseline, not a libjpeg replacement:

- **Encoder**: 8-bit baseline sequential, grayscale or 4:4:4 YCbCr
  (no chroma subsampling), one quant table pair (Annex-K luminance
  base + standard chroma base, libjpeg quality scaling), simple VALID
  canonical Huffman tables (all DC symbols at 4 bits, all 162 AC
  symbols at 8 bits).  JPEG carries its tables in DQT/DHT segments,
  so fixed-length tables cost compression ratio, never correctness —
  any conforming decoder reads them from the stream.
- **Decoder**: baseline/extended-sequential Huffman (SOF0/SOF1),
  8-bit, components with 1×1 sampling factors (what this encoder and
  most screenshot/thumbnail pipelines emit), DRI/RSTn restart
  markers.  Progressive (SOF2+), arithmetic coding, 12-bit depth and
  chroma subsampling raise ``NotImplementedError`` — per-feature
  gates, the same discipline as ``codecs.py``.

The decoder does NOT assume this encoder's tables: Huffman and quant
tables come from the file's own DHT/DQT segments, so external
baseline 4:4:4 / grayscale JPEGs decode too.

Scale note: like every codec here this runs inside Arrow-batched
``mapInPandas`` workers — per-payload buffers only; the DCT is a
vectorized ``einsum`` over all 8×8 blocks of one payload at once.
"""

from __future__ import annotations

import struct

import numpy as np

from i3cols_spark.functions.codecs import ImageData

# ---------------------------------------------------------------- tables


def _zigzag_order() -> list[int]:
    """Standard JPEG zigzag scan as flat indices into an 8×8 block,
    generated from the diagonal construction (anti-diagonals of
    constant i+j, alternating direction)."""
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(max(0, s - 7), min(7, s) + 1)]
        if s % 2 == 0:
            diag.reverse()  # even diagonals run bottom-left → top-right
        order.extend(i * 8 + j for i, j in diag)
    return order


ZIGZAG = np.array(_zigzag_order(), dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

#: Annex-K base quantization tables (row-major, natural order).
QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 1 (worst) … 100 (near-lossless)."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int64)


#: Orthonormal 8-point DCT-II matrix — M @ block @ M.T is exactly the
#: T.81 FDCT (1/4·C(u)C(v)·Σ… definition), M.T @ coef @ M its inverse.
_DCT_M = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        c = np.sqrt(1.0 / 8) if _u == 0 else np.sqrt(2.0 / 8)
        _DCT_M[_u, _x] = c * np.cos((2 * _x + 1) * _u * np.pi / 16)

#: Encoder Huffman layout: every DC category (0–11) at 4 bits, every
#: AC (run, size) symbol plus EOB/ZRL at 8 bits.  Canonical, prefix-
#: free, and the all-ones code at each length stays unused (12 < 16,
#: 162 < 255) as T.81 requires.
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_DC_BITS = [0] * 16
_DC_BITS[3] = len(_DC_SYMBOLS)  # bits[i] = #codes of length i+1
_AC_BITS = [0] * 16
_AC_BITS[7] = len(_AC_SYMBOLS)


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) canonical assignment (T.81 C.2)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_ENC_DC = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
_ENC_AC = _canonical_codes(_AC_BITS, _AC_SYMBOLS)


# ---------------------------------------------------------------- bit I/O


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # 1-padding per T.81


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 destuffing; stops cold
    at any non-stuffing marker (RST/EOI) and exposes it."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.marker is not None:
            raise EOFError("bit stream ended at marker")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt
                raise EOFError("marker in entropy stream")
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | b
        self._n += 8

    def read_bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_consume_rst(self) -> None:
        """Byte-align, then step over an expected RSTn marker."""
        self._acc = 0
        self._n = 0
        if self.marker is None:
            # marker not yet hit: it must be next in the byte stream
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            raise ValueError("expected RST marker")
        if not (0xD0 <= self.marker <= 0xD7):
            raise ValueError(f"expected RST, found FF{self.marker:02X}")
        self.pos += 2  # consume FF Dn
        self.marker = None


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _magnitude_bits(v: int, s: int) -> int:
    return v if v >= 0 else v + (1 << s) - 1


def _extend(bits: int, s: int) -> int:
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


# ---------------------------------------------------------------- encoder


def _to_blocks(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad a (H, W) plane to 8-multiples by edge replication and cut
    into (n_blocks, 8, 8) in tile-row-major order."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    bh, bw = p.shape[0] // 8, p.shape[1] // 8
    blocks = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return blocks, bh, bw


def _fdct_quant(blocks: np.ndarray, qt: np.ndarray) -> np.ndarray:
    coef = np.einsum("ux,nxy,vy->nuv", _DCT_M, blocks - 128.0, _DCT_M)
    q = np.round(coef / qt.reshape(8, 8)).astype(np.int64)
    zz = q.reshape(-1, 64)[:, ZIGZAG]  # zigzag per block
    # AC magnitudes cap at size 10 (±1023) — the table range both here
    # and in Annex K; reachable only with quant step 1 on adversarial
    # blocks (|coef| ≤ 1024 by Cauchy-Schwarz).  DC stays unclamped:
    # its diffs fit category 11 by the same bound.
    np.clip(zz[:, 1:], -1023, 1023, out=zz[:, 1:])
    return zz


def _encode_block(w: _BitWriter, zz: np.ndarray, pred: int) -> int:
    dc = int(zz[0])
    diff = dc - pred
    s = _category(diff)
    code, length = _ENC_DC[s]
    w.write(code, length)
    if s:
        w.write(_magnitude_bits(diff, s), s)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = _ENC_AC[0xF0]  # ZRL
            w.write(code, length)
            run -= 16
        s = _category(v)
        code, length = _ENC_AC[(run << 4) | s]
        w.write(code, length)
        w.write(_magnitude_bits(v, s), s)
        run = 0
    if last_nz < 63:
        code, length = _ENC_AC[0x00]  # EOB
        w.write(code, length)
    return dc


def _dht_segment(tc: int, th: int, bits: list[int], symbols: list[int]) -> bytes:
    body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(
        s & 0xFF for s in symbols
    )
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(img: ImageData, quality: int = 85) -> bytes:
    """Baseline sequential JPEG: grayscale (channels=1) or 4:4:4 YCbCr
    (channels=3).  Lossy — dims round-trip exactly, pixels to within
    quantization error (tests bound the PSNR)."""
    if img.channels not in (1, 3):
        raise ValueError("encode_jpeg: channels must be 1 or 3")
    px = np.frombuffer(img.pixels, dtype=np.uint8).reshape(
        img.height, img.width, img.channels
    ).astype(np.float64)

    if img.channels == 3:
        r, g, b = px[..., 0], px[..., 1], px[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    else:
        planes = [px[..., 0]]

    qts = [_scaled_quant(QUANT_LUMA, quality)]
    if img.channels == 3:
        qts.append(_scaled_quant(QUANT_CHROMA, quality))

    out = bytearray(b"\xff\xd8")  # SOI
    # APP0/JFIF
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
    # DQT (zigzag order per spec)
    for tq, qt in enumerate(qts):
        body = bytes([tq]) + bytes(int(v) for v in qt[ZIGZAG])
        out += b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body
    # SOF0: 8-bit, all components 1×1 sampling
    ncomp = img.channels
    sof = struct.pack(">BHHB", 8, img.height, img.width, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1 if len(qts) > 1 else 0])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    # DHT: one DC and one AC table, shared by every component
    out += _dht_segment(0, 0, _DC_BITS, _DC_SYMBOLS)
    out += _dht_segment(1, 0, _AC_BITS, _AC_SYMBOLS)
    # SOS
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])  # spectral selection (baseline fixed)
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    # Entropy-coded data: MCU = one block per component (1×1 sampling).
    comp_blocks = []
    nb = bh = bw = None
    for ci, plane in enumerate(planes):
        blocks, bh, bw = _to_blocks(plane)
        qt = qts[min(ci, len(qts) - 1)]
        comp_blocks.append(_fdct_quant(blocks, qt))
        nb = blocks.shape[0]
    w = _BitWriter()
    preds = [0] * ncomp
    for n in range(nb):
        for ci in range(ncomp):
            preds[ci] = _encode_block(w, comp_blocks[ci][n], preds[ci])
    w.flush()
    out += w.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decoder


def decode_jpeg(payload: bytes) -> ImageData:
    """Decode baseline/extended-sequential Huffman JPEG with 1×1
    sampling factors (grayscale or 4:4:4).  Tables come from the
    file's own DQT/DHT segments."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("decode_jpeg: missing SOI")
    try:
        return _parse_jpeg(payload)
    except (IndexError, struct.error) as e:
        raise ValueError(f"decode_jpeg: truncated or corrupt stream: {e}") from e


def _parse_jpeg(payload: bytes) -> ImageData:
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0

    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"decode_jpeg: expected marker at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker id — skip them (markers are 0xFF followed by non-FF).
        while payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        seglen = struct.unpack(">H", payload[pos : pos + 2])[0]
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("decode_jpeg: 16-bit quant tables")
                zz = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8).astype(np.int64)
                nat = np.empty(64, dtype=np.int64)
                nat[ZIGZAG] = zz  # stored zigzag → natural
                qtables[tq] = nat
                p += 65
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1
            prec, h, w_, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise NotImplementedError("decode_jpeg: only 8-bit precision")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                if hv != 0x11:
                    raise NotImplementedError(
                        "decode_jpeg: chroma subsampling (sampling factors != 1x1)"
                    )
                comps.append((cid, tq))
            frame = (h, w_, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"decode_jpeg: non-baseline frame type SOF{marker - 0xC0} "
                "(progressive/arithmetic/lossless)"
            )
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                nsym = sum(bits)
                syms = list(seg[p + 17 : p + 17 + nsym])
                codes = _canonical_codes(bits, syms)
                htables[(tc, th)] = {
                    (length, code): sym for sym, (code, length) in codes.items()
                }
                p += 17 + nsym
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("decode_jpeg: SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i : 3 + 2 * i]
                scan.append((cs, tt >> 4, tt & 0xF))
            return _decode_scan(
                payload, pos + seglen, frame, scan, qtables, htables,
                restart_interval,
            )
        pos += seglen
    raise ValueError("decode_jpeg: no scan found")


def _huff_decode(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("decode_jpeg: invalid Huffman code")


def _decode_scan(payload, pos, frame, scan, qtables, htables, restart_interval):
    h, w, comps = frame
    ncomp = len(comps)
    bh, bw = -(-h // 8), -(-w // 8)
    nmcu = bh * bw
    coefs = [np.zeros((nmcu, 64), dtype=np.int64) for _ in range(ncomp)]
    comp_q = []
    comp_dc = []
    comp_ac = []
    for (cid, tq), (scid, td, ta) in zip(comps, scan):
        if cid != scid:
            raise NotImplementedError("decode_jpeg: scan order != frame order")
        comp_q.append(qtables[tq])
        comp_dc.append(htables[(0, td)])
        comp_ac.append(htables[(1, ta)])

    r = _BitReader(payload, pos)
    preds = [0] * ncomp
    for n in range(nmcu):
        if restart_interval and n and n % restart_interval == 0:
            r.align_and_consume_rst()
            preds = [0] * ncomp
        for ci in range(ncomp):
            s = _huff_decode(r, comp_dc[ci])
            diff = _extend(r.read_bits(s), s) if s else 0
            preds[ci] += diff
            zz = coefs[ci][n]
            zz[0] = preds[ci]
            k = 1
            while k < 64:
                sym = _huff_decode(r, comp_ac[ci])
                if sym == 0x00:  # EOB
                    break
                if sym == 0xF0:  # ZRL
                    k += 16
                    continue
                k += sym >> 4
                size = sym & 0xF
                if k > 63:
                    raise ValueError("decode_jpeg: AC index overflow")
                zz[k] = _extend(r.read_bits(size), size)
                k += 1

    planes = []
    for ci in range(ncomp):
        nat = np.empty((nmcu, 64), dtype=np.int64)
        nat[:, ZIGZAG] = coefs[ci]
        deq = nat * comp_q[ci].reshape(1, 64)
        blocks = deq.reshape(-1, 8, 8).astype(np.float64)
        px = np.einsum("xu,nuv,yv->nxy", _DCT_M.T, blocks, _DCT_M.T) + 128.0
        full = (
            px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
        planes.append(full[:h, :w])

    if ncomp == 1:
        out = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)[..., None]
        return ImageData(width=w, height=h, channels=1, pixels=out.tobytes())
    if ncomp == 3:
        y, cb, cr = planes
        r_ = y + 1.402 * (cr - 128.0)
        g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b_ = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r_, g_, b_], axis=-1)
        out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
        return ImageData(width=w, height=h, channels=3, pixels=out.tobytes())
    raise NotImplementedError(f"decode_jpeg: {ncomp}-component scans")
