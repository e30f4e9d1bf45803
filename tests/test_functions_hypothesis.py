"""Property-based checks (hypothesis) for the pure expression library —
functions/text.py semantics validated against plain-Python references
on generated inputs, through real Spark evaluation."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from i3cols_spark.functions.arrays import bucket_pairs, member_pairs
from i3cols_spark.functions.text import (
    normalize,
    rolling_fingerprint,
    shingles,
    tokens,
)

WORD = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
TEXT = st.lists(WORD, min_size=1, max_size=30).map(" ".join)

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _eval(spark, texts, col):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    return [r["out"] for r in df.select(col.alias("out")).collect()]


def _py_fingerprint(text: str) -> int:
    acc = 0
    for w in text.strip().lower().split():
        h = len(w) * 131 + ord(w[0])
        acc = (acc * 31 + h) % 1_000_000_007
    return acc


@given(st.lists(TEXT, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_rolling_fingerprint_matches_python(spark, texts):
    got = _eval(spark, texts, rolling_fingerprint("text"))
    assert got == [_py_fingerprint(t) for t in texts]


@given(st.lists(TEXT, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_shingles_properties(spark, texts):
    got = _eval(spark, texts, shingles("text"))
    for text, sh in zip(texts, got):
        words = text.split()
        # distinct, each shingle ≤ 3 words, count bounded by positions
        assert len(sh) == len(set(sh))
        assert all(1 <= len(s.split()) <= 3 for s in sh)
        assert len(sh) <= max(len(words) - 2, 1)
        # order-sensitivity witness: first shingle starts at word 0
        assert sh[0].split()[0] == words[0].lower()


@given(TEXT)
@settings(**_SETTINGS)
def test_normalization_invariance(spark, text):
    """Case/padding perturbations must not change tokens or fingerprint
    (the dedup-normalization contract)."""
    variants = [text, f"  {text}  ", text.upper()]
    toks = _eval(spark, variants, tokens("text"))
    fps = _eval(spark, variants, rolling_fingerprint("text"))
    norms = _eval(spark, variants, normalize("text"))
    assert toks[0] == toks[1] == toks[2]
    assert fps[0] == fps[1] == fps[2]
    assert norms[0] == norms[1] == norms[2]


# ---- LSH pair helpers (functions/arrays.py) vs brute-force sets ----

# Per-doc band keys: doc id → one small key per band, so buckets are
# mostly singletons with occasional multi-band collisions.
_BANDED = st.dictionaries(
    st.integers(0, 30), st.lists(st.integers(0, 3), min_size=3, max_size=3),
    max_size=8,
)


@given(_BANDED)
@example({})  # no rows: no buckets at all
@example({5: [0, 1, 2]})  # every bucket a singleton
@example({1: [0, 0, 0], 2: [0, 0, 0], 3: [1, 2, 3]})  # (1, 2) collides in 3 bands
@settings(**_SETTINGS)
def test_bucket_pairs_matches_bruteforce(spark, banded):
    rows = [(d, b, k) for d, keys in banded.items() for b, k in enumerate(keys)]
    keyed = spark.createDataFrame(rows, "doc_id long, band int, bkey int")
    got = [tuple(r) for r in bucket_pairs(keyed, "bkey").collect()]
    buckets: dict = {}
    for d, b, k in rows:
        buckets.setdefault((b, k), set()).add(d)
    want = {(a, c) for ids in buckets.values() for a in ids for c in ids if a < c}
    assert len(got) == len(set(got))  # multi-band collisions emitted once
    assert set(got) == want


# Exact-dup groups (rep = group min; a member id already taken by an
# earlier group is dropped, as in a real collapse) and a mask choosing
# which of the C(5, 2) = 10 possible rep pairs exist.
_GROUPS = st.lists(st.sets(st.integers(0, 40), min_size=1, max_size=3), max_size=5)
_MASK = st.lists(st.booleans(), min_size=10, max_size=10)


@given(_GROUPS, _MASK, st.booleans())
@example([], [True] * 10, False)  # no groups, no rep pairs
@example([{1, 9}, {2}], [True] * 10, True)  # member 9 > rep 2: (2, 9) out
@settings(**_SETTINGS)
def test_member_pairs_matches_bruteforce(spark, groups, mask, sim_names):
    seen: set = set()
    reps: dict = {}
    for g in groups:
        ids = sorted(g - seen)
        seen |= g
        if ids:
            reps[ids[0]] = ids
    cand = [(a, b) for a in sorted(reps) for b in sorted(reps) if a < b]
    chosen = [p for p, keep in zip(cand, mask) if keep]
    ra, rb = ("a_id", "b_id") if sim_names else ("rep_a", "rep_b")
    oa, ob = ("a_id", "b_id") if sim_names else ("doc_a", "doc_b")
    grp = spark.createDataFrame(list(reps.items()), "rep long, ids array<long>")
    rep_pairs = spark.createDataFrame(
        [(a, b, float(a * 100 + b)) for a, b in chosen],
        f"{ra} long, {rb} long, score double",
    )
    out = member_pairs(rep_pairs, grp, reps=(ra, rb), out=(oa, ob))
    assert out.columns == [oa, ob, "score"]
    got = Counter(tuple(r) for r in out.collect())
    want = Counter(
        (min(x, y), max(x, y), float(a * 100 + b))
        for a, b in chosen
        for x in reps[a]
        for y in reps[b]
    )
    assert got == want


# ---- media codec round-trips on generated images/audio (no Spark) ----

_DIM = st.integers(min_value=1, max_value=9)


@given(w=_DIM, h=_DIM, data=st.data())
@settings(max_examples=20, deadline=None)
def test_bmp_round_trip_random(w, h, data):
    from i3cols_spark.functions import codecs

    px = data.draw(
        st.binary(min_size=w * h * 3, max_size=w * h * 3), label="pixels"
    )
    img = codecs.ImageData(width=w, height=h, channels=3, pixels=px)
    out = codecs.decode_bmp(codecs.encode_bmp(img))
    assert (out.width, out.height, out.pixels) == (w, h, px)


@given(w=_DIM, h=_DIM, ch=st.sampled_from([1, 3, 4]), data=st.data())
@settings(max_examples=20, deadline=None)
def test_png_round_trip_random(w, h, ch, data):
    from i3cols_spark.functions import codecs

    px = data.draw(
        st.binary(min_size=w * h * ch, max_size=w * h * ch), label="pixels"
    )
    img = codecs.ImageData(width=w, height=h, channels=ch, pixels=px)
    out = codecs.decode_png(codecs.encode_png(img))
    assert (out.width, out.height, out.channels, out.pixels) == (w, h, ch, px)


@given(
    rate=st.integers(min_value=1, max_value=192000),
    nch=st.integers(min_value=1, max_value=2),
    sw=st.sampled_from([1, 2, 4]),
    n=st.integers(min_value=0, max_value=50),
    data=st.data(),
)
@settings(max_examples=20, deadline=None)
def test_wav_round_trip_random(rate, nch, sw, n, data):
    from i3cols_spark.functions import codecs

    frames = data.draw(
        st.binary(min_size=n * nch * sw, max_size=n * nch * sw), label="frames"
    )
    audio = codecs.AudioData(
        sample_rate=rate, channels=nch, sample_width=sw, n_frames=n,
        frames=frames,
    )
    out = codecs.decode_wav(codecs.encode_wav(audio))
    assert (out.sample_rate, out.channels, out.sample_width, out.n_frames) == (
        rate, nch, sw, n,
    )
    assert out.frames == frames


@given(w=_DIM, h=_DIM, ch=st.sampled_from([1, 3]), data=st.data())
@settings(max_examples=15, deadline=None)
def test_jpeg_round_trip_random(w, h, ch, data):
    """Lossy round trip on arbitrary pixel content: dims/channels are
    exact, pixel error is bounded by the quantization step (random
    bytes are JPEG's worst case, so the bound is loose but real —
    and a decode must never crash on any encoder output)."""
    import numpy as np

    from i3cols_spark.functions import codecs
    from i3cols_spark.functions.jpeg import decode_jpeg, encode_jpeg

    px = data.draw(
        st.binary(min_size=w * h * ch, max_size=w * h * ch), label="pixels"
    )
    img = codecs.ImageData(width=w, height=h, channels=ch, pixels=px)
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert (out.width, out.height, out.channels) == (w, h, ch)
    a = np.frombuffer(px, np.uint8).astype(float)
    b = np.frombuffer(out.pixels, np.uint8).astype(float)
    mse = float(np.mean((a - b) ** 2))
    psnr = 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)
    assert psnr > 20.0


@given(w=_DIM, h=_DIM, ch=st.sampled_from([1, 3]), data=st.data())
@settings(max_examples=20, deadline=None)
def test_tiff_round_trip_random(w, h, ch, data):
    from i3cols_spark.functions import codecs

    px = data.draw(
        st.binary(min_size=w * h * ch, max_size=w * h * ch), label="pixels"
    )
    img = codecs.ImageData(width=w, height=h, channels=ch, pixels=px)
    out = codecs.decode_tiff(codecs.encode_tiff(img))
    assert (out.width, out.height, out.channels, out.pixels) == (w, h, ch, px)


@given(
    w=_DIM,
    h=_DIM,
    nframes=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
@settings(max_examples=20, deadline=None)
def test_gif_animation_round_trip_random(w, h, nframes, data):
    """Arbitrary pixel content through the full GIF container + LZW
    round trip — lossless, any palette index pattern."""
    from i3cols_spark.functions import codecs
    from i3cols_spark.functions.gif import GifData, decode_gif, encode_gif

    frames = [
        codecs.ImageData(
            width=w, height=h, channels=1,
            pixels=data.draw(
                st.binary(min_size=w * h, max_size=w * h), label=f"frame{k}"
            ),
        )
        for k in range(nframes)
    ]
    delays = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=65535),
            min_size=nframes, max_size=nframes,
        ),
        label="delays",
    )
    back = decode_gif(encode_gif(GifData(w, h, frames, delays)))
    assert back.delays_cs == delays
    assert [f.pixels for f in back.frames] == [f.pixels for f in frames]


@given(data=st.binary(min_size=0, max_size=4096), mcs=st.integers(2, 8))
@settings(max_examples=30, deadline=None)
def test_gif_lzw_round_trip_random(data, mcs):
    from i3cols_spark.functions.gif import _lzw_decode, _lzw_encode

    capped = bytes(b % (1 << mcs) for b in data)  # symbols within alphabet
    assert _lzw_decode(_lzw_encode(capped, mcs), mcs) == capped
