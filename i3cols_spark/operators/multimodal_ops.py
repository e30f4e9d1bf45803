"""§2.3-E (north-star) — multimodal binary-column pipeline as a
registered, oracle-checked query.

The engine's multimodal layer (functions/multimodal.py) treats media
as opaque ``binary`` payloads + typed metadata and runs decode /
feature-extract as Arrow-batched ``mapInPandas`` operators.  Since
round 5 the decode is REAL: pure-stdlib codecs (functions/codecs.py)
parse genuine BMP / PPM / PGM / PNG / WAV bytes.  q_multimodal_features
round-trips documents through actual format encoders and re-derives
width/height/sample_rate/frames by decoding the bytes — the oracle
predicts those structural values in closed form from the text length,
so a header-arithmetic bug anywhere in encode OR decode breaks the
hash.  The deterministic "fake/raw" codec remains for the
resize/frame-sample chain whose stride arithmetic the second oracle
pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from i3cols_spark.functions.multimodal import (
    attach_fake_media,
    attach_synthetic_media,
    attach_synthetic_gif,
    attach_synthetic_video,
    extract_features,
    extract_gif_features,
    extract_video_features,
)
from i3cols_spark.operators.registry import query
from i3cols_spark.sources.tables import materialize, spread, table


@query(
    "q_multimodal_features",
    oracle="""
    WITH t AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents
    ),
    img AS (  -- even ids: 24-bit BMP, dims closed-form from n
        SELECT doc_id,
               n % 13 + 1 AS w, n % 7 + 1 AS h,
               (n % 13 + 1) * (n % 7 + 1) * 3 AS npix
        FROM t WHERE doc_id % 2 = 0
    ),
    aud AS (  -- odd ids: 16-bit mono PCM WAV
        SELECT doc_id,
               8000 + (n % 5) * 1000 AS rate, n % 50 + 1 AS frames
        FROM t WHERE doc_id % 2 = 1
    )
    SELECT doc_id AS media_id,
           'image/bmp' AS media_type,
           -- 54-byte headers + rows padded to 4 bytes
           CAST(54 + h * ((w * 3 + 3) // 4 * 4) AS BIGINT) AS n_bytes,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(NULL AS INT) AS sample_rate, CAST(NULL AS INT) AS n_frames,
           -- [w, h, channels] + stride sample of the pixel bytes
           CAST(3 + least(29, (npix + greatest(1, npix // 29) - 1)
                              // greatest(1, npix // 29)) AS INT) AS n_features
    FROM img
    UNION ALL
    SELECT doc_id AS media_id,
           'audio/wav' AS media_type,
           CAST(44 + 2 * frames AS BIGINT) AS n_bytes,  -- RIFF+fmt+data hdrs
           CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
           CAST(rate AS INT) AS sample_rate, CAST(frames AS INT) AS n_frames,
           CAST(3 + least(29, (frames + greatest(1, frames // 29) - 1)
                              // greatest(1, frames // 29)) AS INT) AS n_features
    FROM aud
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL encode→decode round trip: documents become genuine BMP
    (even ids) / WAV (odd ids) payload bytes via
    ``attach_synthetic_media``, then one ``mapInPandas`` pass decodes
    the actual format headers and pixels/PCM frames
    (functions/codecs.py) and featurizes.

    Every output column is re-derived FROM THE DECODED BYTES — width/
    height come from the BITMAPINFOHEADER, sample_rate/n_frames from
    the RIFF chunks — while the oracle predicts them in closed form
    from the text length, so the hash pins both encoder and decoder.
    At scale this is embarrassingly parallel over the scan — payloads
    stay page-compressed in parquet and peak memory is one Arrow
    batch.
    """
    media = attach_synthetic_media(table(spark, sf_dir, "documents"))
    return extract_features(media).select(
        "media_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        "sample_rate",
        "n_frames",
        F.size("features").alias("n_features"),
    )


@query(
    "q_multimodal_resize_sample",
    oracle="""
    WITH t AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents
    ),
    s AS (  -- resize factor 2: payload[::2] keeps ceil(n/2) bytes
        SELECT doc_id, CAST(ceil(n / 2.0) AS BIGINT) AS m FROM t
    ),
    b AS (  -- 8-byte frame blocks of the resized payload
        SELECT doc_id, m,
               m % 8 AS rem,
               m // 8 + CASE WHEN m % 8 > 0 THEN 1 ELSE 0 END AS nblocks
        FROM s
    ),
    k AS (  -- frame_sample every_n=2 keeps block indices 0,2,...
        SELECT doc_id, rem, nblocks, (nblocks + 1) // 2 AS nkept FROM b
    ),
    z AS (
        SELECT doc_id,
               CASE WHEN rem > 0 AND (nblocks - 1) % 2 = 0
                    THEN 8 * (nkept - 1) + rem
                    ELSE 8 * nkept END AS n_bytes_sampled
        FROM k
    )
    SELECT doc_id AS media_id,
           n_bytes_sampled,
           CAST(least(32, (n_bytes_sampled + 7) // 8) AS INT) AS n_features
    FROM z
    """,
)
def q_multimodal_resize_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal chain — decode-side resize (every 2nd byte)
    → frame sampling (every 2nd 8-byte block) → featurize — as three
    chained ``mapInPandas`` passes over the binary column.

    The oracle states the surviving byte/feature counts in CLOSED FORM
    from the stride arithmetic, so the correctness gate pins the exact
    slicing semantics of all three operators (off-by-one in any stride
    or block boundary shifts the counts).  At scale the chain stays
    one task per Arrow batch end-to-end: no shuffle between stages,
    payloads never visit the driver, and swapping the fake codec for a
    real one changes none of the plumbing under test.
    """
    from i3cols_spark.functions.multimodal import frame_sample, resize_media

    media = attach_fake_media(table(spark, sf_dir, "documents"))
    sampled = frame_sample(resize_media(media, factor=2), every_n=2)
    return extract_features(sampled).select(
        "media_id",
        F.col("n_bytes").alias("n_bytes_sampled"),
        F.size("features").alias("n_features"),
    )


@query(
    "q_multimodal_real_resize",
    oracle="""
    WITH t AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents
    ),
    img AS (  -- even ids: BMP resized by 2 -> ceil(w/2) x ceil(h/2)
        SELECT doc_id,
               (n % 13 + 1 + 1) // 2 AS w1,
               (n % 7 + 1 + 1) // 2 AS h1
        FROM t WHERE doc_id % 2 = 0
    ),
    aud AS (  -- odd ids: WAV keeps every 2nd frame -> ceil(frames/2)
        SELECT doc_id,
               8000 + (n % 5) * 1000 AS rate,
               (n % 50 + 1 + 1) // 2 AS f1
        FROM t WHERE doc_id % 2 = 1
    )
    SELECT doc_id AS media_id,
           'image/bmp' AS media_type,
           CAST(54 + h1 * ((w1 * 3 + 3) // 4 * 4) AS BIGINT) AS n_bytes,
           CAST(w1 AS INT) AS width, CAST(h1 AS INT) AS height,
           CAST(NULL AS INT) AS sample_rate, CAST(NULL AS INT) AS n_frames
    FROM img
    UNION ALL
    SELECT doc_id AS media_id,
           'audio/wav' AS media_type,
           CAST(44 + 2 * f1 AS BIGINT) AS n_bytes,
           CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
           CAST(rate AS INT) AS sample_rate, CAST(f1 AS INT) AS n_frames
    FROM aud
    """,
)
def q_multimodal_real_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize chain over genuine format bytes: synthesize BMP/WAV
    payloads (attach_synthetic_media), nearest-neighbor downsample by
    2 with decode → resample → RE-ENCODE (resize_media_real), then
    decode the re-encoded payload again (extract_features) and report
    its structural fields.

    Every value crosses the codecs twice — a padding/stride/header bug
    at any of the four encode/decode hops shifts n_bytes or the dims
    and breaks the closed-form hash.  Plan shape: two chained
    ``mapInPandas`` passes over the scan, no shuffle, payloads never
    visit the driver — at 100 TB this is the canonical media
    preprocessing job (embarrassingly parallel, Arrow-batch peak
    memory)."""
    from i3cols_spark.functions.multimodal import resize_media_real

    media = attach_synthetic_media(table(spark, sf_dir, "documents"))
    resized = resize_media_real(media, factor=2)
    return extract_features(resized).select(
        "media_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        "sample_rate",
        "n_frames",
    )


@query(
    "q_multimodal_video_frames",
    oracle="""
    WITH t AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents
        WHERE doc_id % 5 = 0
    ),
    p AS (SELECT doc_id, n % 9 + 2 AS nf, n % 4 + 1 AS fps FROM t),
    s AS (
        SELECT doc_id, nf, fps, unnest(generate_series(0, nf - 1, 2)) AS i
        FROM p
    )
    SELECT doc_id AS media_id,
           CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(fps AS INT) AS fps, CAST(nf AS INT) AS n_frames,
           CAST(count(*) AS BIGINT) AS n_sampled,
           avg(CAST((doc_id * 31 + i * 17) % 256 AS DOUBLE)) AS mean_luma
    FROM s GROUP BY doc_id, nf, fps
    """,
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video path: documents (a deterministic 1-in-5 subset)
    become genuine MJPEG AVI payloads — a RIFF container of
    quality-100 grayscale baseline JPEGs (functions/avi.py +
    functions/jpeg.py) — then one ``mapInPandas`` pass parses the
    container, strides every 2nd frame, entropy-decodes each sampled
    JPEG, and reports container dims / fps / frame count plus the mean
    decoded luma.

    Every output is re-derived FROM THE BYTES (avih + strh headers,
    decoded pixel data) while the oracle predicts them in closed form
    from text length and doc_id — flat frames are bit-exact through
    the JPEG round trip, so a single wrong pixel anywhere in the DCT /
    Huffman / container chain breaks the hash.  At scale the chain is
    embarrassingly parallel over the scan; payloads never leave the
    task that decoded them and only the tiny feature row shuffles.
    """
    # spread() BEFORE the attach (the q_multimodal_audio_pcm r7
    # pattern): the fixture is one parquet file = one input split, so
    # the synthesis + per-frame JPEG decode otherwise runs on one
    # core; only (doc_id, text) rows shuffle — the AVI payloads are
    # built and decoded inside the receiving task.  No-op at
    # production file counts.
    docs = spread(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0), spark
    )
    video = attach_synthetic_video(docs)
    return extract_video_features(video, every_n=2)


@query(
    "q_multimodal_gif_anim",
    oracle="""
    WITH t AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents
        WHERE doc_id % 5 = 1
    ),
    p AS (SELECT doc_id, n, n % 6 + 2 AS nf FROM t),
    d AS (  -- total animation duration: sum of per-frame delays
        SELECT doc_id, nf,
               CAST(sum((n + i) % 20 + 5) AS BIGINT) AS duration_cs
        FROM p, unnest(generate_series(0, nf - 1)) AS u(i)
        GROUP BY doc_id, nf
    ),
    s AS (  -- strided sample: frames 0, 2, ...
        SELECT p.doc_id, p.nf, unnest(generate_series(0, p.nf - 1, 2)) AS i
        FROM p
    ),
    m AS (
        SELECT doc_id, nf,
               avg(CAST((doc_id * 13 + i * 29) % 256 AS DOUBLE)) AS mean_gray,
               CAST(count(*) AS BIGINT) AS n_sampled
        FROM s GROUP BY doc_id, nf
    )
    SELECT m.doc_id AS media_id,
           CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(m.nf AS INT) AS n_frames, d.duration_cs,
           m.n_sampled, m.mean_gray
    FROM m JOIN d ON m.doc_id = d.doc_id
    """,
)
def q_multimodal_gif_anim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF path: a deterministic 1-in-5 document slice
    (disjoint from the MJPEG-AVI slice) becomes genuine GIF89a
    animations — grayscale global palette, per-frame graphic-control
    delays, variable-width LZW frame data (functions/gif.py) — then
    one ``mapInPandas`` pass walks the block stream, LZW-decodes every
    2nd frame, and reports screen dims / frame count / total duration
    / mean sampled gray.

    LZW is lossless, so the closed-form pixel formula survives the
    round trip EXACTLY — the oracle pins encoder and decoder down to
    the bit-level code stream (an off-by-one in the variable-width
    logic shifts every later pixel).  Same scale shape as the other
    media ops: embarrassingly parallel decode over the scan, only the
    feature row shuffles.
    """
    # spread() BEFORE the attach (audio_pcm r7 pattern): one input
    # split otherwise serializes the LZW decode on one core.
    docs = spread(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 1), spark
    )
    gifs = attach_synthetic_gif(docs)
    return extract_gif_features(gifs, every_n=2)


@query(
    "q_multimodal_audio_feats",
    oracle="""
    WITH t AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents
        WHERE doc_id % 5 = 2
    ),
    p AS (
        SELECT doc_id, n,
               CASE n % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                          ELSE 32000 END AS rate,
               32 * (n % 3 + 2) AS kbps,
               n % 7 + 2 AS nf,
               n % 6 + 2 AS nb
        FROM t
    ),
    f AS (
        SELECT doc_id, n, rate, kbps, nf, nb,
               unnest(generate_series(0, nf - 1)) AS fr
        FROM p
    ),
    amp AS (
        SELECT doc_id, rate, kbps, nf,
               2.0 * pow(2.0, -CAST((n + fr) % 63 AS DOUBLE) / 3.0)
               * ( CAST((doc_id * 7 + fr * 3) % CAST(pow(2, nb) AS BIGINT)
                        AS DOUBLE)
                   * pow(2.0, CAST(1 - nb AS DOUBLE)) - 1.0
                   + pow(2.0, CAST(1 - nb AS DOUBLE)) )
               * pow(2.0, CAST(nb AS DOUBLE))
               / (pow(2.0, CAST(nb AS DOUBLE)) - 1.0) AS a
        FROM f
    )
    SELECT doc_id AS media_id,
           CAST(1 AS INT) AS layer,
           CAST(rate AS INT) AS sample_rate,
           CAST(kbps AS INT) AS bitrate_kbps,
           CAST(1 AS INT) AS channels,
           CAST(nf AS INT) AS n_frames,
           CAST(nf * 384 AS BIGINT) AS n_samples,
           round(nf * 384 * 1000.0 / rate, 3) AS duration_ms,
           round(avg(a), 6) AS mean_subband_amp
    FROM amp GROUP BY doc_id, rate, kbps, nf
    """,
)
def q_multimodal_audio_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-1 audio path: a deterministic 1-in-5 document slice
    (disjoint from the AVI %5==0 and GIF %5==1 slices) becomes genuine
    Layer I mono bitstreams — 32-bit headers, 4-bit allocation table,
    6-bit scalefactor indices, 12 interleaved nb-bit sample codes
    (functions/mpeg_audio.py) — then one ``mapInPandas`` pass re-walks
    the frame stream, decodes allocations + scalefactors, requantizes
    every coded sample, and reports rate / bitrate / frame count /
    duration plus the mean dequantized subband amplitude.

    Requantization is EXACT arithmetic (unlike JPEG's lossy DCT), so
    the oracle pins the full bitstream round trip to closed form: a
    single mis-read bit anywhere — header field, allocation nibble,
    scalefactor, sample code, bit-reader position — shifts an
    amplitude and breaks the hash.  Every emitted column derives from
    bits that really decoded; the waveform-domain continuation is
    q_multimodal_audio_pcm.  Scale shape: embarrassingly parallel
    decode over the scan, only the 9-column feature row shuffles.
    """
    from i3cols_spark.functions.multimodal import (
        attach_synthetic_mpeg,
        extract_mpeg_audio_features,
    )

    docs = spread(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 2), spark
    )
    audio = attach_synthetic_mpeg(docs)
    return extract_mpeg_audio_features(audio)


@query(
    "q_multimodal_audio_pcm",
    oracle="""
    SELECT doc_id AS media_id,
           CAST((strlen(text) % 7 + 2) * 384 AS BIGINT) AS n_pcm,
           TRUE AS band_ok,
           TRUE AS rms_peak_ok,
           TRUE AS zcr_ok
    FROM documents WHERE doc_id % 5 = 2
    """,
)
def q_multimodal_audio_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 Layer I all the way to the WAVEFORM: the same synthetic
    bitstream slice as q_multimodal_audio_feats, but after the exact
    subband decode each stream runs the REAL ISO §A.2 polyphase
    synthesis filterbank (functions/mpeg_audio.synthesize_pcm, the
    embedded near-perfect-reconstruction prototype window — round-trip
    SNR ≈ 78 dB), re-analyzed by the §C.1.3 filterbank — emitted in
    the oracle-checkable AUDIT form (the q_agg_approx_distinct r8
    precedent):

    * ``n_pcm`` — the decoded sample count, hash-compared against the
      oracle's CLOSED-FORM prediction (n_frames × 384, with n_frames
      = utf8_bytes(text) % 7 + 2 from the attach_synthetic_mpeg
      construction) — a wrong frame walk or synthesis length flips
      the row red;
    * ``band_ok`` — the dominant subband RE-MEASURED from the
      waveform sits within cyclic distance 1 of a band the encoder
      actually wrote ({(doc_id + f) % 32}) — fails if synthesis
      places energy in the wrong region (the band-placement bound).
      Exact membership is NOT the invariant: each frame is a
      12-sample constant in one subband, so frame boundaries are
      sharp transients whose leakage can tip the energy argmax one
      band below the written run (measured: ~12% of streams at
      distance exactly 1, zero at distance ≥ 2, all three SFs);
    * ``rms_peak_ok`` / ``zcr_ok`` — waveform sanity bounds
      (0 ≤ rms ≤ peak ≤ 16.0; zcr ∈ [0, 1]).  The peak ceiling is
      the scalefactor head-room bound: one subband's dequantized
      magnitude tops out near 4 at scf index 0 and the overlapped
      synthesis window can roughly double constructive peaks
      (measured max ≈ 8.7 across the three SFs) — a broken
      scalefactor or gain path blows straight past 16.

    The raw per-stream features stay available via
    functions/multimodal.extract_mpeg_pcm_features (and the
    filterbank's SNR floors, unity gain and exact 481-sample delay
    stay pinned by tests/test_codecs.py) — the filterbank itself is
    not SQL-expressible; its OBSERVABLE CONTRACT is.

    Scale shape: embarrassingly parallel mapInPandas decode, PCM
    never leaves the task, 5 scalar columns shuffle.
    """
    from i3cols_spark.functions.multimodal import (
        attach_synthetic_mpeg,
        extract_mpeg_pcm_features,
    )

    # spread(): the fixture is one parquet file = one input split, and
    # the per-row decode+synthesis is the cost — without repartitioning
    # the whole slice runs on one core (3.7 s -> 0.5 s at sf0.1, r7).
    docs = spread(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 2), spark
    )
    audio = attach_synthetic_mpeg(docs)
    feats = extract_mpeg_pcm_features(audio)
    nf = F.octet_length("text") % 7 + 2
    written = F.transform(
        F.sequence(F.lit(0), nf - 1), lambda f: (F.col("doc_id") + f) % 32
    )
    info = docs.select(
        F.col("doc_id").alias("media_id"), written.alias("written_bands")
    )
    dom_dist = F.array_min(
        F.transform(
            "written_bands",
            lambda w: F.least(
                F.abs(w - F.col("dominant_band")),
                32 - F.abs(w - F.col("dominant_band")),
            ),
        )
    )
    return feats.join(info, "media_id").select(
        "media_id",
        F.col("n_pcm").cast("bigint").alias("n_pcm"),
        (dom_dist <= 1).alias("band_ok"),
        (
            (F.col("pcm_rms") >= 0)
            # + 1e-6: both features are rounded to 6dp, so at tiny
            # amplitudes rms can round up past peak rounding down
            & (F.col("pcm_rms") <= F.col("pcm_peak") + 1e-6)
            & (F.col("pcm_peak") <= 16.0)
        ).alias("rms_peak_ok"),
        ((F.col("zcr") >= 0) & (F.col("zcr") <= 1)).alias("zcr_ok"),
    )


@query(
    "q_multimodal_phash_dedup",
    oracle="""
    WITH img AS (
        SELECT doc_id, text,
               CAST(length(text) AS BIGINT) AS n,
               length(text) % 13 + 1 AS w,
               length(text) % 7 + 1 AS h
        FROM documents WHERE doc_id % 2 = 0
    ),
    grays AS (
        SELECT doc_id,
               list_transform(range(16), k ->
                   ( ascii(substr(text, CAST( (3*((((k // 4) * h) // 4) * w + ((k % 4) * w) // 4)    ) % n AS INTEGER) + 1, 1))
                   + ascii(substr(text, CAST( (3*((((k // 4) * h) // 4) * w + ((k % 4) * w) // 4) + 1) % n AS INTEGER) + 1, 1))
                   + ascii(substr(text, CAST( (3*((((k // 4) * h) // 4) * w + ((k % 4) * w) // 4) + 2) % n AS INTEGER) + 1, 1))
                   ) // 3
               ) AS g
        FROM img
    ),
    hashed AS (
        SELECT doc_id AS media_id,
               CAST(list_sum(list_transform(range(16), k ->
                   CASE WHEN 16 * g[k + 1] > list_sum(g) THEN 1 << k ELSE 0 END
               )) AS BIGINT) AS ahash
        FROM grays
    )
    SELECT ahash,
           CAST(count(*) AS BIGINT) AS n_images,
           min(media_id) AS rep_id
    FROM hashed GROUP BY ahash
    """,
)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup grouping for IMAGES — the visual twin
    of q_dedup_exact: re-encoded or renamed copies of the same picture
    share an average-hash even when their container bytes differ.

    The aHash here is integer-exact by construction (so two engines
    can agree bit-for-bit): decode the real BMP bytes, gray each pixel
    as (r+g+b)//3, nearest-neighbor sample a 4x4 grid (row i = (r*h)//4,
    col j = (c*w)//4), then bit k = [16*gray_k > sum(grays)] — the
    mean comparison cleared of division.  The DuckDB oracle never sees
    the payload: it re-derives every sampled gray from the closed-form
    pixel synthesis (byte p of the cycled UTF-8 text, ASCII-verified
    fixture), so the hash pins the BMP encoder, the decoder, AND the
    sampling arithmetic end-to-end.

    Scale shape: decode + hash is one embarrassingly parallel
    mapInPandas pass (payloads never leave the task); the dedup is a
    map-side-combined groupBy on a 16-bit key — at 100 TB the shuffle
    carries one (ahash, count, min_id) partial per task, not images.
    Production tuning is only the hash width (64-bit on an 8x8 grid)
    and banding the hash for Hamming-distance buckets, both of which
    reuse this exact plan.
    """
    from i3cols_spark.functions.multimodal import image_ahash

    media = attach_synthetic_media(table(spark, sf_dir, "documents")).where(
        F.col("media_type") == "image/bmp"
    )
    hashed = image_ahash(media)
    return hashed.groupBy("ahash").agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.min("media_id").alias("rep_id"),
    )


@query(
    "q_multimodal_audio_fingerprint",
    oracle="""
    WITH clip AS (
        SELECT doc_id, text,
               CAST(length(text) AS BIGINT) AS n,
               length(text) % 50 + 1 AS frames
        FROM documents WHERE doc_id % 2 = 1
    ),
    pcm AS (
        SELECT doc_id, frames,
               list_transform(range(17), k ->
                   CAST(
                     ascii(substr(text, CAST( (2 * ((k * (frames - 1)) // 16)    ) % n AS INTEGER) + 1, 1))
                   + ascii(substr(text, CAST( (2 * ((k * (frames - 1)) // 16) + 1) % n AS INTEGER) + 1, 1)) * 256
                   AS BIGINT)
               ) AS raw
        FROM clip
    ),
    signedpcm AS (
        SELECT doc_id,
               list_transform(raw, v ->
                   v - CASE WHEN v >= 32768 THEN 65536 ELSE 0 END) AS s
        FROM pcm
    ),
    fps AS (
        SELECT doc_id AS media_id,
               CAST(list_sum(list_transform(range(16), k ->
                   CASE WHEN s[k + 2] > s[k + 1] THEN 1 << k ELSE 0 END
               )) AS BIGINT) AS afp
        FROM signedpcm
    )
    SELECT afp,
           CAST(count(*) AS BIGINT) AS n_clips,
           min(media_id) AS rep_id
    FROM fps GROUP BY afp
    """,
)
def q_multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint near-dup grouping for AUDIO — the third
    modality's dedup twin (text: q_dedup_exact family, image:
    q_multimodal_phash_dedup): re-containered or renamed copies of the
    same recording share a delta-sign fingerprint even when their WAV
    headers differ.

    The fingerprint is the Haitsma-Kalker sign-of-difference sketch
    made integer-exact (functions/multimodal.py:audio_delta_fingerprint):
    17 grid samples across the real decoded PCM, bit k = [sample
    rises between grid points k, k+1] — pure int16 comparisons, no
    filterbank, no floats.  The DuckDB oracle never parses a RIFF
    chunk: it re-derives each sampled int16 (lo + hi·256, two's
    complement) from the closed-form PCM synthesis (cycled UTF-8 text
    bytes), so WAV encoder, stdlib decoder, sample reassembly AND the
    grid arithmetic are pinned end-to-end.

    Scale shape identical to the image twin: embarrassingly parallel
    mapInPandas decode (audio never leaves the task), then a map-side-
    combined groupBy on a 16-bit key — the shuffle carries one (afp,
    count, min_id) partial per task at any corpus size.
    """
    return audio_fingerprint_groups(table(spark, sf_dir, "documents"))


def audio_fingerprint_groups(docs: DataFrame) -> DataFrame:
    """(afp, n_clips, rep_id) over the synthetic WAV clips of a
    documents frame, batch or streaming: decode and fingerprint run in
    the Arrow-batched mapInPandas kernels, and the aggregate's state is
    bounded by the 16-bit fingerprint space, never by clip count."""
    from i3cols_spark.functions.multimodal import audio_fingerprints

    media = attach_synthetic_media(docs).where(F.col("media_type") == "audio/wav")
    return audio_fingerprints(media).groupBy("afp").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.min("media_id").alias("rep_id"),
    )


@query(
    "q_dedup_phash_hamming",
    oracle="""
    WITH img AS (
        SELECT doc_id, text,
               CAST(length(text) AS BIGINT) AS n,
               length(text) % 13 + 1 AS w,
               length(text) % 7 + 1 AS h
        FROM documents WHERE doc_id % 2 = 0
    ),
    grays AS (
        SELECT doc_id,
               list_transform(range(16), k ->
                   ( ascii(substr(text, CAST( (3*((((k // 4) * h) // 4) * w + ((k % 4) * w) // 4)    ) % n AS INTEGER) + 1, 1))
                   + ascii(substr(text, CAST( (3*((((k // 4) * h) // 4) * w + ((k % 4) * w) // 4) + 1) % n AS INTEGER) + 1, 1))
                   + ascii(substr(text, CAST( (3*((((k // 4) * h) // 4) * w + ((k % 4) * w) // 4) + 2) % n AS INTEGER) + 1, 1))
                   ) // 3
               ) AS g
        FROM img
    ),
    hashed AS (
        SELECT doc_id AS media_id,
               CAST(list_sum(list_transform(range(16), k ->
                   CASE WHEN 16 * g[k + 1] > list_sum(g) THEN 1 << k ELSE 0 END
               )) AS BIGINT) AS ahash
        FROM grays
    )
    SELECT a.media_id AS a_id, b.media_id AS b_id,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
    FROM hashed a JOIN hashed b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= 2
    """,
)
def q_dedup_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate image pairs in Hamming space — q_multimodal_
    phash_dedup finds exact aHash collisions; this finds images whose
    hashes differ in ≤2 of 16 bits (small crops / brightness nudges)
    WITHOUT the all-pairs comparison the oracle runs.

    LSH banding with an exactness proof: the 16-bit hash splits into
    3 bands (6/5/5 bits); a pair differing in ≤2 bits can touch at
    most 2 bands, so by pigeonhole it collides in ≥1 band — the
    band-bucket self-join therefore has PERFECT recall, and the exact
    bit_count(xor) verify trims false candidates.  Identical plan
    family as the MinHash LSH path (dedup.py): explode to (band, key),
    shuffle on the band key, candidate pairs ∝ bucket occupancy² —
    never |images|².  The brute-force SQL oracle proves the banding
    loses nothing: both sides emit the identical pair set.

    At 100 TB: widen the hash to 64 bits / r bands of b bits chosen by
    the target Hamming radius (r > radius keeps perfect recall); the
    band join key becomes (band_idx, band_val) exactly as here.
    """
    from i3cols_spark.functions.multimodal import image_ahash

    media = attach_synthetic_media(table(spark, sf_dir, "documents")).where(
        F.col("media_type") == "image/bmp"
    )
    hashed = materialize(image_ahash(media))  # decode once, 2 join sides
    bands = hashed.select(
        "media_id",
        "ahash",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_idx"),
                    F.col("ahash").bitwiseAND(F.lit(63)).alias("band_val"),
                ),
                F.struct(
                    F.lit(1).alias("band_idx"),
                    F.shiftright("ahash", 6).bitwiseAND(F.lit(31)).alias("band_val"),
                ),
                F.struct(
                    F.lit(2).alias("band_idx"),
                    F.shiftright("ahash", 11).bitwiseAND(F.lit(31)).alias("band_val"),
                ),
            )
        ).alias("band"),
    ).select("media_id", "ahash", "band.band_idx", "band.band_val")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("a_id"),
            F.col("b.media_id").alias("b_id"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()  # a pair may collide in several bands
    )
    return cand.select(
        "a_id",
        "b_id",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long").alias("hamming"),
    ).where(F.col("hamming") <= 2)


@query(
    "q_dedup_phash64_hamming",
    oracle="""
    WITH img AS (
        SELECT doc_id, text,
               CAST(length(text) AS BIGINT) AS n,
               length(text) % 13 + 1 AS w,
               length(text) % 7 + 1 AS h
        FROM documents WHERE doc_id % 2 = 0
    ),
    grays AS (
        SELECT doc_id,
               list_transform(range(64), k ->
                   ( ascii(substr(text, CAST( (3*((((k // 8) * h) // 8) * w + ((k % 8) * w) // 8)    ) % n AS INTEGER) + 1, 1))
                   + ascii(substr(text, CAST( (3*((((k // 8) * h) // 8) * w + ((k % 8) * w) // 8) + 1) % n AS INTEGER) + 1, 1))
                   + ascii(substr(text, CAST( (3*((((k // 8) * h) // 8) * w + ((k % 8) * w) // 8) + 2) % n AS INTEGER) + 1, 1))
                   ) // 3
               ) AS g
        FROM img
    ),
    hashed AS (
        SELECT doc_id AS media_id,
               CAST(list_sum(list_transform(range(32), k ->
                   CASE WHEN 64 * g[k + 1] > list_sum(g)
                        THEN CAST(1 AS BIGINT) << k ELSE 0 END
               )) AS BIGINT) AS lo,
               CAST(list_sum(list_transform(range(32), k ->
                   CASE WHEN 64 * g[k + 33] > list_sum(g)
                        THEN CAST(1 AS BIGINT) << k ELSE 0 END
               )) AS BIGINT) AS hi
        FROM grays
    )
    SELECT a.media_id AS a_id, b.media_id AS b_id,
           CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
                AS BIGINT) AS hamming
    FROM hashed a JOIN hashed b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 2
    """,
)
def q_dedup_phash64_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-width perceptual-hash near-dup pairs: the 64-bit
    8×8-grid average hash at Hamming radius ≤ 2 (the 16-bit twin
    q_dedup_phash_hamming saturates once the corpus outgrows its 2¹⁶
    buckets: 43k → 4.6M radius-2 pairs at d10, a 107× blowup of
    COINCIDENTAL collisions; 64 bits keep the radius-2 ball at ~2×10⁻¹⁵
    of the hash space, so emitted pairs are true visual near-dups at any
    corpus size).

    Banding with an exactness proof, one size up: the hash travels as
    two 32-bit halves (``1 << 63`` overflows signed BIGINT in any SQL
    engine) and splits into 4 bands of 16 bits; ≤2 differing bits
    touch ≤2 bands, so a qualifying pair collides in ≥2 of 4 band
    buckets — perfect recall, proven by the brute-force oracle
    emitting the identical pair set.  Verify is two XOR-popcounts.

    At 100 TB the plan is unchanged from the 16-bit twin: decode +
    hash is one embarrassingly parallel mapInPandas pass, band keys
    explode 4×|images|, candidates ∝ bucket occupancy² on 16-bit
    band values — never |images|².
    """
    from i3cols_spark.functions.multimodal import image_ahash64

    media = attach_synthetic_media(table(spark, sf_dir, "documents")).where(
        F.col("media_type") == "image/bmp"
    )
    hashed = materialize(image_ahash64(media))  # decode once, 2 join sides
    band_structs = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.shiftright(half, shift).bitwiseAND(F.lit(65535)).alias("band_val"),
        )
        for i, (half, shift) in enumerate(
            [
                (F.col("ahash_lo"), 0),
                (F.col("ahash_lo"), 16),
                (F.col("ahash_hi"), 0),
                (F.col("ahash_hi"), 16),
            ]
        )
    ]
    bands = hashed.select(
        "media_id",
        "ahash_lo",
        "ahash_hi",
        F.explode(F.array(*band_structs)).alias("band"),
    ).select("media_id", "ahash_lo", "ahash_hi", "band.band_idx", "band.band_val")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("a_id"),
            F.col("b.media_id").alias("b_id"),
            F.col("a.ahash_lo").alias("la"),
            F.col("a.ahash_hi").alias("ha"),
            F.col("b.ahash_lo").alias("lb"),
            F.col("b.ahash_hi").alias("hb"),
        )
        .distinct()  # a pair may collide in several bands
    )
    return cand.select(
        "a_id",
        "b_id",
        (
            F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
            + F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .cast("long")
        .alias("hamming"),
    ).where(F.col("hamming") <= 2)


@query(
    "q_multimodal_pixel_histogram",
    oracle="""
    WITH img AS (
        SELECT doc_id, text,
               CAST(length(text) AS BIGINT) AS n,
               length(text) % 13 + 1 AS w,
               length(text) % 7 + 1 AS h
        FROM documents WHERE doc_id % 2 = 0
    ),
    grays AS (
        SELECT doc_id, w * h AS n_pixels,
               list_transform(range(w * h), p ->
                   ( ascii(substr(text, CAST((3 * p    ) % n AS INTEGER) + 1, 1))
                   + ascii(substr(text, CAST((3 * p + 1) % n AS INTEGER) + 1, 1))
                   + ascii(substr(text, CAST((3 * p + 2) % n AS INTEGER) + 1, 1))
                   ) // 3
               ) AS g
        FROM img
    )
    SELECT doc_id AS media_id,
           CAST(n_pixels AS BIGINT) AS n_pixels,
           CAST(list_sum(g) AS BIGINT) AS sum_gray,
           CAST(len(list_filter(g, x -> x // 64 = 0)) AS BIGINT) AS bin_0,
           CAST(len(list_filter(g, x -> x // 64 = 1)) AS BIGINT) AS bin_1,
           CAST(len(list_filter(g, x -> x // 64 = 2)) AS BIGINT) AS bin_2,
           CAST(len(list_filter(g, x -> x // 64 = 3)) AS BIGINT) AS bin_3
    FROM grays
    ORDER BY media_id
    """,
)
def q_multimodal_pixel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image gray HISTOGRAM over EVERY pixel — the strongest
    decoder-fidelity pin in the multimodal family: where
    q_multimodal_phash_dedup checks 16 sampled pixels per image, this
    re-derives ALL of them (the DuckDB oracle computes each pixel's
    gray from the closed-form BMP synthesis without ever seeing a
    payload), so one flipped byte anywhere in encoder, stdlib decoder
    or the gray/binning arithmetic shifts a bin count and breaks the
    hash.  Also the building block real image curation uses directly:
    brightness histograms gate out black/blank/overexposed frames
    before any model sees them.

    Shape: one Arrow-batched mapInPandas decode pass (payloads never
    leave the task; numpy vectorized gray + bincount per image), one
    row per image with exact integer counts — nothing to round,
    nothing shuffled but the 7-column summaries.
    """
    from i3cols_spark.functions.multimodal import image_gray_histogram

    media = attach_synthetic_media(table(spark, sf_dir, "documents")).where(
        F.col("media_type") == "image/bmp"
    )
    return image_gray_histogram(media).orderBy("media_id")


@query(
    "q_multimodal_sample_histogram",
    oracle="""
    WITH clip AS (
        SELECT doc_id, text,
               CAST(length(text) AS BIGINT) AS n,
               length(text) % 50 + 1 AS frames
        FROM documents WHERE doc_id % 2 = 1
    ),
    pcm AS (
        SELECT doc_id, frames,
               list_transform(range(frames), k ->
                   ( ascii(substr(text, CAST((2 * k    ) % n AS INTEGER) + 1, 1))
                   + ascii(substr(text, CAST((2 * k + 1) % n AS INTEGER) + 1, 1)) * 256
                   ) - CASE WHEN
                       ascii(substr(text, CAST((2 * k) % n AS INTEGER) + 1, 1))
                     + ascii(substr(text, CAST((2 * k + 1) % n AS INTEGER) + 1, 1)) * 256
                       >= 32768 THEN 65536 ELSE 0 END
               ) AS s
        FROM clip
    )
    SELECT doc_id AS media_id,
           CAST(frames AS BIGINT) AS n_samples,
           CAST(list_sum(s) AS BIGINT) AS sum_amp,
           CAST(len(list_filter(s, x -> (x + 32768) // 16384 = 0)) AS BIGINT) AS bin_0,
           CAST(len(list_filter(s, x -> (x + 32768) // 16384 = 1)) AS BIGINT) AS bin_1,
           CAST(len(list_filter(s, x -> (x + 32768) // 16384 = 2)) AS BIGINT) AS bin_2,
           CAST(len(list_filter(s, x -> (x + 32768) // 16384 = 3)) AS BIGINT) AS bin_3
    FROM pcm
    ORDER BY media_id
    """,
)
def q_multimodal_sample_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip amplitude histogram over EVERY PCM sample — the audio
    twin of q_multimodal_pixel_histogram, completing the full-payload
    fidelity pair: the delta-sign fingerprint checks 17 grid samples,
    this re-derives ALL of them (the oracle reconstructs each signed
    int16 from the closed-form synthesis, no RIFF chunk ever parsed in
    DuckDB), so WAV encoder, stdlib decoder and two's-complement
    reassembly are pinned at every sample.  The amplitude histogram
    is also the clipping/silence gate audio curation runs (a clip
    living entirely in the outer bins is clipped; one bin = DC
    silence).

    Shape: one Arrow-batched decode pass, exact integer counts per
    clip, nothing rounded, only 7-column summaries shuffle.
    """
    from i3cols_spark.functions.multimodal import audio_amplitude_histogram

    media = attach_synthetic_media(table(spark, sf_dir, "documents")).where(
        F.col("media_type") == "audio/wav"
    )
    return audio_amplitude_histogram(media).orderBy("media_id")


#: Scene-cut threshold on the |Δ mean-luma| between successive frames.
_SCENE_CUT_TAU = 100.0


@query(
    "q_multimodal_scene_cuts",
    oracle="""
    WITH t AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents
        WHERE doc_id % 5 = 0
    ),
    p AS (SELECT doc_id, n % 9 + 2 AS nf FROM t),
    f AS (
        SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS i
        FROM p
    ),
    lum AS (
        SELECT doc_id, nf, i,
               CAST((doc_id * 31 + i * 17) % 256 AS DOUBLE) AS luma
        FROM f
    ),
    d AS (
        SELECT doc_id, nf, i, luma,
               abs(luma - lag(luma) OVER (
                   PARTITION BY doc_id ORDER BY i)) AS dl
        FROM lum
    )
    SELECT doc_id AS media_id,
           CAST(nf AS INT) AS n_frames,
           CAST(sum(CASE WHEN dl > 100.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cuts,
           CAST(max(dl) AS DOUBLE) AS max_abs_delta,
           CAST(min(CASE WHEN dl > 100.0 THEN i END) AS BIGINT)
               AS first_cut_idx
    FROM d GROUP BY doc_id, nf
    """,
)
def q_multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change detection over the REAL video path: decode every
    MJPEG-AVI frame (same genuine RIFF + JPEG chain as
    q_multimodal_video_frames, but one row per frame), then a lag
    window per clip flags a CUT wherever the mean-luma delta exceeds
    τ = 100 — the shot-boundary heuristic a video training-data
    pipeline runs before frame sampling, so clips get sampled per
    scene instead of per stride.  Emits per clip: frame count, cut
    count, the largest delta, and the first cut position.

    The oracle predicts every per-frame luma in closed form (flat
    frames are bit-exact through the quality-100 JPEG round trip),
    so the detector's windowed delta logic sits on top of a fully
    pinned decode chain: consecutive frames step +17 luma (mod 256),
    and the detector must fire exactly at the wrap-arounds.

    Scale shape: one embarrassingly parallel decode pass emitting
    3-scalar rows (never pixels), one window over frame_idx
    partitioned by clip, one groupBy — at 100 TB the shuffle carries
    |frames| tiny rows, and the lag window is the same
    per-key-ordered pattern the time-series family runs.
    """
    from i3cols_spark.functions.multimodal import extract_video_frame_lumas
    from pyspark.sql.window import Window as W

    # spread() BEFORE the attach (audio_pcm r7 pattern): one input
    # split otherwise serializes the whole every-frame decode on one
    # core; only text rows shuffle, never pixels or AVI bytes.
    docs = spread(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0), spark
    )
    video = attach_synthetic_video(docs)
    lum = extract_video_frame_lumas(video)
    w = W.partitionBy("media_id").orderBy("frame_idx")
    d = lum.withColumn(
        "dl", F.abs(F.col("luma") - F.lag("luma").over(w))
    )
    return d.groupBy("media_id").agg(
        F.max(F.col("frame_idx")).cast("int").alias("nf_minus1"),
        F.sum(F.when(F.col("dl") > _SCENE_CUT_TAU, 1).otherwise(0))
        .cast("long")
        .alias("n_cuts"),
        F.max("dl").cast("double").alias("max_abs_delta"),
        F.min(F.when(F.col("dl") > _SCENE_CUT_TAU, F.col("frame_idx")))
        .cast("long")
        .alias("first_cut_idx"),
    ).select(
        "media_id",
        (F.col("nf_minus1") + 1).cast("int").alias("n_frames"),
        "n_cuts",
        "max_abs_delta",
        "first_cut_idx",
    )


#: Quiet-sample amplitude threshold for the silence segmentation
#: (VAD) audit — below it a PCM sample counts as quiet.
_VAD_TAU = 15000


@query(
    "q_multimodal_silence_runs",
    oracle=f"""
    WITH clip AS (
        SELECT doc_id, text,
               CAST(length(text) AS BIGINT) AS n,
               length(text) % 50 + 1 AS frames
        FROM documents WHERE doc_id % 2 = 1
    ),
    pcm AS (
        SELECT doc_id, frames,
               list_transform(range(frames), k ->
                   ( ascii(substr(text, CAST((2 * k    ) % n AS INTEGER) + 1, 1))
                   + ascii(substr(text, CAST((2 * k + 1) % n AS INTEGER) + 1, 1)) * 256
                   ) - CASE WHEN
                       ascii(substr(text, CAST((2 * k) % n AS INTEGER) + 1, 1))
                     + ascii(substr(text, CAST((2 * k + 1) % n AS INTEGER) + 1, 1)) * 256
                       >= 32768 THEN 65536 ELSE 0 END
               ) AS s
        FROM clip
    ),
    d AS (
        SELECT doc_id, i, s[i + 1] AS v
        FROM pcm, unnest(range(frames)) AS u(i)
    ),
    quiet AS (
        SELECT doc_id, i,
               i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        FROM d WHERE abs(v) < {_VAD_TAU}
    ),
    runlen AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS rl
        FROM quiet GROUP BY doc_id, grp
    ),
    perclip AS (
        SELECT doc_id,
               CAST(coalesce(max(rl), 0) AS BIGINT) AS longest_quiet_run,
               CAST(coalesce(count(*), 0) AS BIGINT) AS n_quiet_runs,
               CAST(coalesce(sum(rl), 0) AS BIGINT) AS n_quiet
        FROM runlen GROUP BY doc_id
    )
    SELECT c.doc_id AS media_id,
           CAST(c.frames AS BIGINT) AS n_samples,
           coalesce(p.n_quiet, 0) AS n_quiet,
           coalesce(p.n_quiet_runs, 0) AS n_quiet_runs,
           coalesce(p.longest_quiet_run, 0) AS longest_quiet_run
    FROM clip c LEFT JOIN perclip p ON p.doc_id = c.doc_id
    ORDER BY c.doc_id
    """,
)
def q_multimodal_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence segmentation (VAD-style) over the REAL WAV path — the
    audio twin of q_multimodal_scene_cuts: decode every PCM sample,
    mark quiet samples (|amplitude| < τ), and report per clip the
    quiet count, the number of MAXIMAL quiet runs, and the longest
    run — the segmentation an audio curation pipeline uses to split
    on silence and to drop dead-air clips, one structural level above
    the amplitude histogram's bin counts.

    The runs are computed IN-TASK with numpy (diff over the quiet
    mask — per-sample rows never shuffle; only 5-scalar summaries
    do), while the oracle re-derives every sample from the
    closed-form synthesis and runs the gaps-and-islands form
    (i − row_number) over the unnested samples: the windowed islands
    arithmetic and the vectorized run detection must agree clip by
    clip, and a clip with zero quiet samples must survive as an
    explicit all-zero row (LEFT join, not dropped).
    """
    import numpy as _np  # noqa: F401 (imported for the mapInPandas closure)

    from i3cols_spark.functions.multimodal import attach_synthetic_media

    media = attach_synthetic_media(table(spark, sf_dir, "documents")).where(
        F.col("media_type") == "audio/wav"
    )

    def op(batches):
        import numpy as np
        import pandas as pd

        from i3cols_spark.functions import codecs

        for pdf in batches:
            out = {
                "media_id": [], "n_samples": [], "n_quiet": [],
                "n_quiet_runs": [], "longest_quiet_run": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                audio = codecs.decode_wav(bytes(payload))
                s = np.asarray(codecs.pcm_samples(audio), dtype=np.int64)
                quiet = np.abs(s) < _VAD_TAU
                padded = np.concatenate(([False], quiet, [False]))
                edges = np.diff(padded.astype(np.int8))
                starts = np.flatnonzero(edges == 1)
                ends = np.flatnonzero(edges == -1)
                runs = ends - starts
                out["media_id"].append(mid)
                out["n_samples"].append(len(s))
                out["n_quiet"].append(int(quiet.sum()))
                out["n_quiet_runs"].append(len(runs))
                out["longest_quiet_run"].append(
                    int(runs.max()) if len(runs) else 0
                )
            yield pd.DataFrame(out)

    return (
        media.select("media_id", "payload")
        .mapInPandas(
            op,
            "media_id long, n_samples long, n_quiet long, "
            "n_quiet_runs long, longest_quiet_run long",
        )
        .orderBy("media_id")
    )
