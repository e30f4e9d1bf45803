"""Multimodal columns — image/audio/video as opaque binary + typed
metadata, with decode / feature-extract / resize / frame-sample as
Arrow-batched ``mapInPandas`` operators (SURVEY north-star).

Real formats decode for real via the pure-stdlib codecs in
``functions/codecs.py`` and ``functions/jpeg.py``: BMP / PPM / PGM /
PNG / baseline JPEG images and PCM WAV audio (encode + decode,
round-trip tested; JPEG is lossy so its tests bound PSNR), MJPEG-AVI
video, animated GIF, and MPEG-1 audio (frame walk for Layers I–III +
Layer I subband decode; PCM synthesis gated on the ISO Annex B window
table — functions/mpeg_audio.py).  Only unsupported per-format
features (progressive JPEG, chroma subsampling, Layer II/III payload
bits) stay behind ``NotImplementedError`` gates.  The
deterministic "fake/raw" codec (payload bytes are the samples) is
kept for closed-form oracle arithmetic in the resize/frame-sample
chain.

Scale notes: binary payloads ride the normal columnar path (parquet
keeps them page-compressed); ``mapInPandas`` streams Arrow batches so
peak memory is one batch, not one partition; feature extraction is
embarrassingly parallel — repartition by size if payloads are skewed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Typed metadata carried next to the opaque payload.
MEDIA_T = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # e.g. image/png
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)

FEATURES_SCHEMA = (
    "media_id long, media_type string, n_bytes long, checksum string, "
    "width int, height int, sample_rate int, n_frames int, "
    "features array<float>"
)


def attach_fake_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Test/fixture helper: derive a deterministic binary payload column
    from a text column (UTF-8 bytes, 'fake/raw' media type)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("fake/raw").alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("int").alias("n_frames"),
    )


#: Feature-vector sample budget after the leading structural entries.
_N_SAMPLES = 29

#: Decoded structural metadata + feature samples for one payload.
_DECODED_FIELDS = ("width", "height", "sample_rate", "n_frames", "features")


def decode_media(media_type: str, payload: bytes) -> dict:
    """Decode one payload for real; returns a dict with the
    ``_DECODED_FIELDS`` keys (absent dims are None).

    Image features: [width, height, channels] + a ≤29-entry stride
    sample of the pixel bytes.  Audio features: [sample_rate,
    channels, n_frames] + a ≤29-entry stride sample of the PCM sample
    values.  fake/raw: byte values of an 8-byte stride (≤32), the
    original closed-form codec.
    """
    from i3cols_spark.functions import codecs

    def _stride_sample(seq, k: int = _N_SAMPLES) -> list[float]:
        if not len(seq):
            return []
        step = max(1, len(seq) // k)
        return [float(v) for v in seq[::step][:k]]

    if media_type == "fake/raw":
        return {
            "width": None,
            "height": None,
            "sample_rate": None,
            "n_frames": None,
            "features": [float(b) for b in payload[::8][:32]],
        }
    from i3cols_spark.functions.jpeg import decode_jpeg

    image_decoders = {
        "image/tiff": codecs.decode_tiff,
        "image/bmp": codecs.decode_bmp,
        "image/x-portable-pixmap": codecs.decode_ppm,
        "image/x-portable-graymap": codecs.decode_ppm,
        "image/png": codecs.decode_png,
        "image/jpeg": decode_jpeg,
    }
    if media_type in image_decoders:
        img = image_decoders[media_type](payload)
        return {
            "width": img.width,
            "height": img.height,
            "sample_rate": None,
            "n_frames": None,
            "features": [float(img.width), float(img.height), float(img.channels)]
            + _stride_sample(img.pixels),
        }
    if media_type == "image/gif":
        # GIF is frame-structured: treat it like the video path — the
        # first frame supplies image dims/features, n_frames counts
        # the animation.
        from i3cols_spark.functions.gif import decode_gif

        gif = decode_gif(payload)
        if not gif.frames:
            raise ValueError("GIF payload contains no image frames")
        first = gif.frames[0]
        return {
            "width": gif.width,
            "height": gif.height,
            "sample_rate": None,
            "n_frames": len(gif.frames),
            "features": [
                float(gif.width), float(gif.height), float(first.channels),
            ]
            + _stride_sample(first.pixels),
        }
    if media_type in ("audio/wav", "audio/x-wav"):
        audio = codecs.decode_wav(payload)
        return {
            "width": None,
            "height": None,
            "sample_rate": audio.sample_rate,
            "n_frames": audio.n_frames,
            "features": [
                float(audio.sample_rate),
                float(audio.channels),
                float(audio.n_frames),
            ]
            + _stride_sample(codecs.pcm_samples(audio)),
        }
    if media_type in ("audio/mpeg", "audio/mp3"):
        # Real frame walk for Layers I–III; Layer I additionally
        # contributes a stride sample of dequantized subband values
        # (PCM synthesis stays gated — mpeg_audio module docstring).
        from i3cols_spark.functions import mpeg_audio

        info = mpeg_audio.stream_info(payload)
        feats = [
            float(info["sample_rate"]),
            float(info["channels"]),
            float(info["n_frames"]),
        ]
        if info["layer"] == 1:
            import numpy as np

            frames = mpeg_audio.decode_layer1(payload)
            vals = np.concatenate(
                [fr.subbands[:, fr.allocated] for fr in frames], axis=None
            )
            feats += _stride_sample(vals)
        return {
            "width": None,
            "height": None,
            "sample_rate": info["sample_rate"],
            "n_frames": info["n_frames"],
            "features": feats,
        }
    if media_type.startswith("image/"):
        raise NotImplementedError(
            f"{media_type} needs an external codec (e.g. Pillow); "
            "built-in formats: bmp, ppm/pgm, png, jpeg (baseline), gif, tiff"
        )
    if media_type.startswith(("audio/", "video/")):
        raise NotImplementedError(
            f"{media_type} needs an external codec; "
            "stdlib formats: wav, mpeg (Layer I)"
        )
    raise NotImplementedError(f"unknown media_type: {media_type}")


def attach_synthetic_media(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture helper that builds REAL media payloads: even ids get a
    24-bit BMP, odd ids a 16-bit PCM WAV, with pixel/sample bytes
    cycled from the UTF-8 text and dimensions derived from the byte
    length ``n`` in closed form — so a SQL oracle can predict what the
    real decoder must recover:

    - BMP:  width = n % 13 + 1, height = n % 7 + 1
    - WAV:  sample_rate = 8000 + (n % 5) * 1000, n_frames = n % 50 + 1

    This is an encode→decode round trip through genuine format bytes
    (headers, padding, zlib-free BI_RGB rows, RIFF chunks), not a
    metadata passthrough.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from i3cols_spark.functions import codecs

        def cycle(src: bytes, size: int) -> bytes:
            if not src:
                src = b"\x00"
            return (src * (size // len(src) + 1))[:size]

        for pdf in batches:
            rows = {k: [] for k in (
                "media_id", "media_type", "payload",
                "width", "height", "sample_rate", "n_frames",
            )}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                src = str(text).encode("utf-8")
                n = len(src)
                rows["media_id"].append(doc_id)
                if doc_id % 2 == 0:
                    w, h = n % 13 + 1, n % 7 + 1
                    img = codecs.ImageData(
                        width=w, height=h, channels=3,
                        pixels=cycle(src, w * h * 3),
                    )
                    rows["media_type"].append("image/bmp")
                    rows["payload"].append(codecs.encode_bmp(img))
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["sample_rate"].append(None)
                    rows["n_frames"].append(None)
                else:
                    rate, frames = 8000 + (n % 5) * 1000, n % 50 + 1
                    audio = codecs.AudioData(
                        sample_rate=rate, channels=1, sample_width=2,
                        n_frames=frames, frames=cycle(src, 2 * frames),
                    )
                    rows["media_type"].append("audio/wav")
                    rows["payload"].append(codecs.encode_wav(audio))
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["sample_rate"].append(rate)
                    rows["n_frames"].append(frames)
            yield pd.DataFrame(rows)

    src_df = df.select(F.col(id_col), F.col(text_col))
    return src_df.mapInPandas(
        op,
        schema=(
            "media_id long, media_type string, payload binary, "
            "width int, height int, sample_rate int, n_frames int"
        ),
    )


def _decode_payload(media_type: str, payload: bytes) -> list[float]:
    """Back-compat shim: feature vector only."""
    return decode_media(media_type, payload)["features"]


def extract_features(df: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Decode + featurize media rows via mapInPandas (Arrow batches).

    Output: (media_id, media_type, n_bytes, checksum, features) —
    checksum is hex md5 of the payload (exactly reproducible), features
    are the decoded samples from ``_decode_payload``.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            decoded = [
                decode_media(mt, bytes(p))
                for mt, p in zip(pdf["media_type"], pdf["payload"])
            ]
            out = {
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                "checksum": [
                    hashlib.md5(bytes(p)).hexdigest() for p in pdf["payload"]
                ],
            }
            for field in _DECODED_FIELDS:
                out[field] = [d[field] for d in decoded]
            yield pd.DataFrame(out)

    return df.mapInPandas(op, schema=FEATURES_SCHEMA)


def resize_media_real(df: DataFrame, factor: int = 2) -> DataFrame:
    """REAL resize over genuine format bytes, one ``mapInPandas`` pass:
    decode each payload with the stdlib codecs, nearest-neighbor
    downsample (every ``factor``-th pixel row/column for images, every
    ``factor``-th PCM frame for audio), and RE-ENCODE to the same
    format — so downstream consumers still hold valid BMP/WAV bytes
    and the width/height/n_frames metadata is re-derived from the
    re-encoded payload, not arithmetically assumed.

    Output dims are exact stride counts: ceil(w/f) × ceil(h/f) pixels,
    ceil(frames/f) frames — closed-form for the oracle.  fake/raw
    payloads pass through ``resize_media``'s byte-stride semantics.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from i3cols_spark.functions import codecs

        def one(mt: str, payload: bytes):
            if mt == "image/bmp":
                img = codecs.decode_bmp(payload)
                px = np.frombuffer(img.pixels, dtype=np.uint8).reshape(
                    img.height, img.width, img.channels
                )[::factor, ::factor]
                out = codecs.ImageData(
                    width=px.shape[1], height=px.shape[0],
                    channels=img.channels, pixels=px.tobytes(),
                )
                return (
                    codecs.encode_bmp(out), out.width, out.height, None, None
                )
            if mt in ("audio/wav", "audio/x-wav"):
                a = codecs.decode_wav(payload)
                fw = a.channels * a.sample_width
                frames = np.frombuffer(a.frames, dtype=np.uint8).reshape(
                    a.n_frames, fw
                )[::factor]
                out = codecs.AudioData(
                    sample_rate=a.sample_rate, channels=a.channels,
                    sample_width=a.sample_width, n_frames=frames.shape[0],
                    frames=frames.tobytes(),
                )
                return (
                    codecs.encode_wav(out), None, None,
                    out.sample_rate, out.n_frames,
                )
            if mt == "fake/raw":
                # deterministic stub codec: byte-stride resize
                return (bytes(payload)[::factor], None, None, None, None)
            # Real formats without a resize path here (png/ppm/jpeg…)
            # must FAIL, not fall through: a byte-strided PNG is
            # corrupt bytes still labeled image/png, and the crash
            # then surfaces far downstream at the next decode.
            raise NotImplementedError(
                f"resize_media_real: no resize path for {mt} "
                "(supported: image/bmp, audio/wav, fake/raw)"
            )

        for pdf in batches:
            res = [
                one(mt, bytes(p))
                for mt, p in zip(pdf["media_type"], pdf["payload"])
            ]
            out = pdf.copy()
            out["payload"] = [r[0] for r in res]
            out["width"] = pd.array([r[1] for r in res], dtype="Int32")
            out["height"] = pd.array([r[2] for r in res], dtype="Int32")
            out["sample_rate"] = pd.array([r[3] for r in res], dtype="Int32")
            out["n_frames"] = pd.array([r[4] for r in res], dtype="Int32")
            yield out

    return df.mapInPandas(op, schema=df.schema)


def resize_media(df: DataFrame, factor: int = 2) -> DataFrame:
    """Resize stub for image payloads: keeps every ``factor``-th byte
    of the fake payload and divides the width/height metadata (a real
    implementation decodes, resamples and re-encodes per Arrow batch —
    identical plumbing).  Metadata stays consistent with the payload:
    downstream operators can trust ``width``/``height`` without
    decoding, which at scale is what lets a resolution filter prune
    before any byte of payload is touched."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["payload"] = [bytes(p)[::factor] for p in pdf["payload"]]
            for dim in ("width", "height"):
                out[dim] = (pdf[dim] // factor).astype(pdf[dim].dtype)
            yield out

    return df.mapInPandas(op, schema=df.schema)


def frame_sample(df: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame-sampling stub for video payloads: keeps every n-th 'frame'
    (8-byte block of the fake payload).  Real implementation would call
    a video decoder per Arrow batch — identical plumbing."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for p in pdf["payload"]:
                raw = bytes(p)
                blocks = [raw[i : i + 8] for i in range(0, len(raw), 8)]
                frames.append(b"".join(blocks[::every_n]))
            out = pdf.copy()
            out["payload"] = frames
            yield out

    return df.mapInPandas(op, schema=df.schema)


def attach_synthetic_video(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture helper that builds REAL video payloads: each document
    becomes an MJPEG AVI (functions/avi.py) of 16×16 grayscale
    baseline-JPEG frames.  Every structural property is closed-form in
    the text byte length ``n`` and ``doc_id`` so a SQL oracle can
    predict what the real container parser + JPEG decoder must
    recover:

    - n_frames = n % 9 + 2,  fps = n % 4 + 1
    - frame i is FLAT gray level (doc_id*31 + i*17) % 256, encoded at
      quality 100 — flat blocks are bit-exact through the JPEG round
      trip (tests/test_codecs.py), so decoded luma == the formula.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from i3cols_spark.functions import codecs, jpeg
        from i3cols_spark.functions.avi import VideoData, encode_mjpeg_avi

        for pdf in batches:
            rows: dict[str, list] = {"media_id": [], "payload": []}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                n = len(str(text).encode("utf-8"))
                nf, fps = n % 9 + 2, n % 4 + 1
                frames = []
                for i in range(nf):
                    level = (int(doc_id) * 31 + i * 17) % 256
                    img = codecs.ImageData(
                        width=16, height=16, channels=1,
                        pixels=bytes([level]) * 256,
                    )
                    frames.append(jpeg.encode_jpeg(img, quality=100))
                rows["media_id"].append(doc_id)
                rows["payload"].append(
                    encode_mjpeg_avi(
                        VideoData(width=16, height=16, fps=fps, frames=frames)
                    )
                )
            yield pd.DataFrame(rows)

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        op, schema="media_id long, payload binary"
    )


def extract_video_features(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Decode video payloads and featurize a strided frame sample:
    parse the AVI container, decode every ``every_n``-th frame's JPEG,
    and report container metadata plus the mean luma of the sampled
    frames — ALL re-derived from the actual bytes (avih/strh headers,
    entropy-decoded pixels), never from side metadata.

    Runs as one Arrow-batched ``mapInPandas`` pass: embarrassingly
    parallel over the scan, per-task memory bounded by one batch of
    payloads plus a single decoded 16×16 frame at a time."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from i3cols_spark.functions.avi import decode_mjpeg_avi
        from i3cols_spark.functions.jpeg import decode_jpeg

        for pdf in batches:
            out: dict[str, list] = {
                "media_id": list(pdf["media_id"]),
                "width": [], "height": [], "fps": [],
                "n_frames": [], "n_sampled": [], "mean_luma": [],
            }
            for p in pdf["payload"]:
                vid = decode_mjpeg_avi(bytes(p))
                if not vid.frames:
                    raise ValueError("video payload has no frames")
                lumas = []
                for jf in vid.frames[::every_n]:
                    img = decode_jpeg(jf)
                    if (img.width, img.height) != (vid.width, vid.height):
                        raise ValueError(
                            "frame dims disagree with container header"
                        )
                    px = np.frombuffer(img.pixels, dtype=np.uint8)
                    lumas.append(float(px.mean()))
                out["width"].append(vid.width)
                out["height"].append(vid.height)
                out["fps"].append(vid.fps)
                out["n_frames"].append(len(vid.frames))
                out["n_sampled"].append(len(lumas))
                out["mean_luma"].append(float(np.mean(lumas)))
            yield pd.DataFrame(out)

    return df.mapInPandas(
        op,
        schema=(
            "media_id long, width int, height int, fps int, "
            "n_frames int, n_sampled long, mean_luma double"
        ),
    )


def extract_video_frame_lumas(df: DataFrame) -> DataFrame:
    """Decode video payloads to ONE ROW PER FRAME — (media_id,
    frame_idx, luma) — the per-frame form scene-change detection
    needs where ``extract_video_features`` aggregates.  Same single
    Arrow-batched ``mapInPandas`` decode pass; the per-frame rows
    that shuffle are 3 scalars each, never pixels."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from i3cols_spark.functions.avi import decode_mjpeg_avi
        from i3cols_spark.functions.jpeg import decode_jpeg

        for pdf in batches:
            ids: list = []
            idxs: list = []
            lumas: list = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                vid = decode_mjpeg_avi(bytes(p))
                if not vid.frames:
                    raise ValueError("video payload has no frames")
                for i, jf in enumerate(vid.frames):
                    img = decode_jpeg(jf)
                    px = np.frombuffer(img.pixels, dtype=np.uint8)
                    ids.append(mid)
                    idxs.append(i)
                    lumas.append(float(px.mean()))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "luma": lumas}
            )

    return df.mapInPandas(op, "media_id long, frame_idx int, luma double")


def attach_synthetic_gif(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture helper for the GIF path: each document becomes an
    ANIMATED 16×16 grayscale GIF (functions/gif.py) with closed-form
    structure — LZW is lossless, so unlike JPEG frames the pixel
    formula survives the round trip exactly:

    - n_frames = n % 6 + 2,  delay_cs[i] = (n + i) % 20 + 5
    - frame i is FLAT gray level (doc_id*13 + i*29) % 256
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from i3cols_spark.functions import codecs
        from i3cols_spark.functions.gif import GifData, encode_gif

        for pdf in batches:
            rows: dict[str, list] = {"media_id": [], "payload": []}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                n = len(str(text).encode("utf-8"))
                nf = n % 6 + 2
                frames = [
                    codecs.ImageData(
                        width=16, height=16, channels=1,
                        pixels=bytes([(int(doc_id) * 13 + i * 29) % 256]) * 256,
                    )
                    for i in range(nf)
                ]
                delays = [(n + i) % 20 + 5 for i in range(nf)]
                rows["media_id"].append(doc_id)
                rows["payload"].append(
                    encode_gif(
                        GifData(width=16, height=16, frames=frames,
                                delays_cs=delays)
                    )
                )
            yield pd.DataFrame(rows)

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        op, schema="media_id long, payload binary"
    )


def extract_gif_features(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Decode animated GIFs and featurize a strided frame sample:
    dims from the logical screen descriptor, total duration from the
    per-frame graphic-control delays, mean gray of every
    ``every_n``-th LZW-decoded frame — all from the actual bytes."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from i3cols_spark.functions.gif import decode_gif

        for pdf in batches:
            out: dict[str, list] = {
                "media_id": list(pdf["media_id"]),
                "width": [], "height": [], "n_frames": [],
                "duration_cs": [], "n_sampled": [], "mean_gray": [],
            }
            for p in pdf["payload"]:
                gif = decode_gif(bytes(p))
                sampled = gif.frames[::every_n]
                grays = [
                    float(np.frombuffer(fr.pixels, dtype=np.uint8).mean())
                    for fr in sampled
                ]
                out["width"].append(gif.width)
                out["height"].append(gif.height)
                out["n_frames"].append(len(gif.frames))
                out["duration_cs"].append(sum(gif.delays_cs))
                out["n_sampled"].append(len(grays))
                out["mean_gray"].append(float(np.mean(grays)))
            yield pd.DataFrame(out)

    return df.mapInPandas(
        op,
        schema=(
            "media_id long, width int, height int, n_frames int, "
            "duration_cs long, n_sampled long, mean_gray double"
        ),
    )


def attach_synthetic_mpeg(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture helper for the MPEG-audio path: each document becomes a
    genuine MPEG-1 Layer I mono stream (functions/mpeg_audio.py) with
    closed-form structure, n = utf-8 byte length, i = doc_id:

    - sample_rate  = [44100, 48000, 32000][n % 3]
    - bitrate_kbps = 32 * (n % 3 + 2)        (index n%3+2 of table B)
    - n_frames     = n % 7 + 2
    - frame f carries ONE active subband (i + f) % 32 at
      nb = n % 6 + 2 bits, scalefactor index (n + f) % 63, with all
      12 samples the code (i*7 + f*3) % 2^nb.

    Requantization is exact arithmetic, so the dequantized subband
    value 2·2^(−scf/3) · (c·2^(1−nb) − 1 + 2^(1−nb)) · 2^nb/(2^nb−1)
    survives the bitstream round trip bit-for-bit — a SQL oracle can
    predict it in closed form, the GIF/LZW pattern applied to audio.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from i3cols_spark.functions import mpeg_audio

        for pdf in batches:
            rows: dict[str, list] = {"media_id": [], "payload": []}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                i = int(doc_id)
                n = len(str(text).encode("utf-8"))
                nf = n % 7 + 2
                nb = n % 6 + 2
                specs = [
                    {
                        (i + f) % 32: (
                            nb,
                            (n + f) % 63,
                            [(i * 7 + f * 3) % (1 << nb)] * 12,
                        )
                    }
                    for f in range(nf)
                ]
                rows["media_id"].append(doc_id)
                rows["payload"].append(
                    mpeg_audio.encode_layer1(
                        specs, rate_idx=n % 3, bitrate_idx=n % 3 + 2
                    )
                )
            yield pd.DataFrame(rows)

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        op, schema="media_id long, payload binary"
    )


def extract_mpeg_audio_features(df: DataFrame) -> DataFrame:
    """Parse and Layer-I-decode MPEG audio payloads: stream metadata
    from the real frame walk, mean dequantized amplitude over the
    ALLOCATED subband samples (the bit-allocation mask, not a nonzero
    test — a code can legally dequantize to exactly 0.0)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from i3cols_spark.functions import mpeg_audio

        for pdf in batches:
            out: dict[str, list] = {
                "media_id": list(pdf["media_id"]),
                "layer": [], "sample_rate": [], "bitrate_kbps": [],
                "channels": [], "n_frames": [], "n_samples": [],
                "duration_ms": [], "mean_subband_amp": [],
            }
            for p in pdf["payload"]:
                payload = bytes(p)
                info = mpeg_audio.stream_info(payload)
                frames = mpeg_audio.decode_layer1(payload)
                vals = np.concatenate(
                    [fr.subbands[:, fr.allocated] for fr in frames], axis=None
                )
                if vals.size == 0:
                    raise ValueError("mpeg payload allocated no subband bits")
                out["layer"].append(info["layer"])
                out["sample_rate"].append(info["sample_rate"])
                out["bitrate_kbps"].append(info["bitrate_kbps"])
                out["channels"].append(info["channels"])
                out["n_frames"].append(info["n_frames"])
                out["n_samples"].append(info["n_samples"])
                out["duration_ms"].append(round(info["duration_ms"], 3))
                out["mean_subband_amp"].append(round(float(np.mean(vals)), 6))
            yield pd.DataFrame(out)

    return df.mapInPandas(
        op,
        schema=(
            "media_id long, layer int, sample_rate int, bitrate_kbps int, "
            "channels int, n_frames int, n_samples long, "
            "duration_ms double, mean_subband_amp double"
        ),
    )


def extract_mpeg_pcm_features(df: DataFrame) -> DataFrame:
    """Layer-I-decode MPEG audio payloads and run the REAL subband→PCM
    synthesis filterbank (functions/mpeg_audio.synthesize_pcm — the
    embedded near-PR prototype window, ISO §A.2 flowchart), then
    compute waveform-domain features no bitstream walk can produce:
    RMS, peak, zero-crossing rate, and the dominant subband measured
    FROM THE PCM by re-analysis (§C.1.3 filterbank), closing the
    encode→decode→synthesize→re-analyze loop per row.

    Scale: one ``mapInPandas`` pass, embarrassingly parallel, only
    6 scalar feature columns shuffle; the PCM itself never leaves the
    task.  Values are rounded to 6dp — the filterbank is deterministic
    float64 numpy, but cross-BLAS reduction order is not contractual.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from i3cols_spark.functions import mpeg_audio

        for pdf in batches:
            out: dict[str, list] = {
                "media_id": list(pdf["media_id"]),
                "n_pcm": [], "pcm_rms": [], "pcm_peak": [],
                "zcr": [], "dominant_band": [],
            }
            for p in pdf["payload"]:
                frames = mpeg_audio.decode_layer1(bytes(p))
                pcm = mpeg_audio.synthesize_pcm(frames)  # [n, nch]
                mono = pcm.mean(axis=1)
                n = len(mono)
                signs = np.sign(mono)
                nz = signs != 0
                crossings = int(
                    np.count_nonzero(np.diff(signs[nz]) != 0)
                ) if np.count_nonzero(nz) > 1 else 0
                sb = mpeg_audio.analyze_pcm(
                    np.concatenate([mono, np.zeros(512 - n % 512 if n % 512 else 0)])
                )
                band_energy = (sb**2).sum(axis=0)
                out["n_pcm"].append(n)
                out["pcm_rms"].append(round(float(np.sqrt((mono**2).mean())), 6))
                out["pcm_peak"].append(round(float(np.abs(mono).max()), 6))
                out["zcr"].append(round(crossings / max(n - 1, 1), 6))
                out["dominant_band"].append(int(np.argmax(band_energy)))
            yield pd.DataFrame(out)

    return df.mapInPandas(
        op,
        schema=(
            "media_id long, n_pcm long, pcm_rms double, pcm_peak double, "
            "zcr double, dominant_band int"
        ),
    )


def ahash_bits(width: int, height: int, pixels: bytes, grid: int = 4) -> int:
    """Integer-exact average hash of one decoded RGB image: gray each
    sampled pixel as (r+g+b)//3 on a nearest-neighbor grid×grid lattice
    (row i = (r*h)//grid, col j = (c*w)//grid), bit k set iff
    grid²·gray_k > Σ grays — the mean comparison cleared of division so
    independent engines agree bit-for-bit.  Channel-order agnostic
    (the gray sum commutes), so BGR-decoded BMPs hash identically."""
    grays = []
    for r in range(grid):
        i = (r * height) // grid
        for c in range(grid):
            j = (c * width) // grid
            p = 3 * (i * width + j)
            grays.append((pixels[p] + pixels[p + 1] + pixels[p + 2]) // 3)
    s = sum(grays)
    nbits = grid * grid
    a = 0
    for k, g in enumerate(grays):
        if nbits * g > s:
            a |= 1 << k
    return a


def image_ahash(df: DataFrame) -> DataFrame:
    """(media_id, payload) → (media_id, ahash): decode the real BMP
    bytes and average-hash the pixels, one Arrow-batched mapInPandas
    pass — payloads never leave the task, only 16 bits per image
    shuffle downstream."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from i3cols_spark.functions import codecs

        for pdf in batches:
            ids, hashes = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = codecs.decode_bmp(bytes(payload))
                ids.append(mid)
                hashes.append(ahash_bits(img.width, img.height, img.pixels))
            yield pd.DataFrame({"media_id": ids, "ahash": hashes})

    return df.select("media_id", "payload").mapInPandas(
        op, "media_id long, ahash long"
    )


def image_ahash64(df: DataFrame) -> DataFrame:
    """(media_id, payload) → (media_id, ahash_lo, ahash_hi): the
    PRODUCTION-width 64-bit average hash (8×8 nearest-neighbor grid —
    the 16-bit space saturates once the corpus
    outgrows 2¹⁶ buckets), emitted as two 32-bit halves because
    ``1 << 63`` overflows signed BIGINT arithmetic in SQL engines —
    each half stays a small positive long, XOR/popcount compose
    exactly, and the banding reads 16-bit slices of either half."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from i3cols_spark.functions import codecs

        for pdf in batches:
            ids, los, his = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = codecs.decode_bmp(bytes(payload))
                a = ahash_bits(img.width, img.height, img.pixels, grid=8)
                ids.append(mid)
                los.append(a & 0xFFFFFFFF)
                his.append(a >> 32)
            yield pd.DataFrame(
                {"media_id": ids, "ahash_lo": los, "ahash_hi": his}
            )

    return df.select("media_id", "payload").mapInPandas(
        op, "media_id long, ahash_lo long, ahash_hi long"
    )


def audio_delta_fingerprint(samples: list[int], nbits: int = 16) -> int:
    """Integer-exact delta-sign acoustic fingerprint: sample nbits+1
    grid points across the clip (idx_k = (k·(n-1))//nbits), bit k set
    iff the waveform RISES between consecutive grid points — the
    Haitsma-Kalker-style sign-of-difference sketch reduced to pure
    integer comparisons so independent engines agree bit-for-bit.
    Single-sample clips (no deltas) fingerprint to 0."""
    n = len(samples)
    if n == 0:
        return 0
    idx = [(k * (n - 1)) // nbits for k in range(nbits + 1)]
    fp = 0
    for k in range(nbits):
        if samples[idx[k + 1]] > samples[idx[k]]:
            fp |= 1 << k
    return fp


def audio_fingerprints(df: DataFrame) -> DataFrame:
    """(media_id, payload) → (media_id, afp): decode real WAV bytes to
    PCM and delta-sign fingerprint the waveform, one Arrow-batched
    mapInPandas pass — 16 bits per clip shuffle downstream, never the
    audio."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from i3cols_spark.functions import codecs

        for pdf in batches:
            ids, fps = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                audio = codecs.decode_wav(bytes(payload))
                ids.append(mid)
                fps.append(audio_delta_fingerprint(codecs.pcm_samples(audio)))
            yield pd.DataFrame({"media_id": ids, "afp": fps})

    return df.select("media_id", "payload").mapInPandas(
        op, "media_id long, afp long"
    )


def image_gray_histogram(df: DataFrame, n_bins: int = 4) -> DataFrame:
    """(media_id, payload) → per-image gray histogram over EVERY pixel:
    decode the real BMP bytes, gray each pixel as (r+g+b)//3 (integer-
    exact), bucket into ``n_bins`` equal 256//n_bins-wide bins, and
    emit one row per image with the bin counts, pixel count and the
    exact integer gray sum — one Arrow-batched mapInPandas pass,
    payloads never leave the task."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from i3cols_spark.functions import codecs

        width = 256 // n_bins
        for pdf in batches:
            out: dict = {"media_id": [], "n_pixels": [], "sum_gray": []}
            for b in range(n_bins):
                out[f"bin_{b}"] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = codecs.decode_bmp(bytes(payload))
                px = np.frombuffer(img.pixels, dtype=np.uint8).astype(np.int64)
                gray = (px[0::3] + px[1::3] + px[2::3]) // 3
                out["media_id"].append(mid)
                out["n_pixels"].append(int(gray.size))
                out["sum_gray"].append(int(gray.sum()))
                for b in range(n_bins):
                    out[f"bin_{b}"].append(int(((gray // width) == b).sum()))
            yield pd.DataFrame(out)

    schema = "media_id long, n_pixels long, sum_gray long, " + ", ".join(
        f"bin_{b} long" for b in range(n_bins)
    )
    return df.select("media_id", "payload").mapInPandas(op, schema)


def audio_amplitude_histogram(df: DataFrame, n_bins: int = 4) -> DataFrame:
    """(media_id, payload) → per-clip amplitude histogram over EVERY
    int16 PCM sample: decode real WAV bytes, bucket each signed sample
    into ``n_bins`` equal bins of the [-32768, 32767] range
    ((s + 32768) // (65536 // n_bins)), and emit exact integer bin
    counts, the sample count and the exact sample sum — the audio twin
    of image_gray_histogram, one Arrow-batched mapInPandas pass."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from i3cols_spark.functions import codecs

        width = 65536 // n_bins
        for pdf in batches:
            out: dict = {"media_id": [], "n_samples": [], "sum_amp": []}
            for b in range(n_bins):
                out[f"bin_{b}"] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                audio = codecs.decode_wav(bytes(payload))
                s = np.asarray(codecs.pcm_samples(audio), dtype=np.int64)
                out["media_id"].append(mid)
                out["n_samples"].append(int(s.size))
                out["sum_amp"].append(int(s.sum()))
                for b in range(n_bins):
                    out[f"bin_{b}"].append(int((((s + 32768) // width) == b).sum()))
            yield pd.DataFrame(out)

    schema = "media_id long, n_samples long, sum_amp long, " + ", ".join(
        f"bin_{b} long" for b in range(n_bins)
    )
    return df.select("media_id", "payload").mapInPandas(op, schema)
