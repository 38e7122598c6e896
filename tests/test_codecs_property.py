"""Property-based round-trip tests (hypothesis) for the pure-Python
codecs: PNG (all filter types we emit), WAV, AVI raw-DIB, and Gorilla.
No Spark session needed — these pin the kernels the Arrow batch
operators call."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 20), w=st.integers(1, 20),
    ch=st.sampled_from([1, 3, 4]),
    filter_type=st.integers(0, 2),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(h, w, ch, filter_type, seed):
    from kapra_spark.operators.multimodal import png_decode, png_encode

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    back = png_decode(png_encode(img, filter_type=filter_type))
    assert back.shape == img.shape and (back == img).all()


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 5), h=st.integers(1, 24), w=st.integers(1, 24),
    fps=st.integers(1, 60), seed=st.integers(0, 2**31 - 1),
)
def test_avi_roundtrip_property(n, h, w, fps, seed):
    from kapra_spark.operators.multimodal import avi_decode, avi_encode

    rng = np.random.default_rng(seed)
    fr = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
    back, f2 = avi_decode(avi_encode(fr, fps=fps))
    assert back.shape == fr.shape and (back == fr).all() and f2 == fps


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 400), rate=st.sampled_from([8000, 16000, 44100]),
    channels=st.integers(1, 2), seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_property(n, rate, channels, seed):
    from kapra_spark.operators.multimodal import wav_decode, wav_encode

    rng = np.random.default_rng(seed)
    x = rng.uniform(-1, 1, size=(n, channels))
    back, r2 = wav_decode(wav_encode(x, rate=rate))
    assert r2 == rate and len(back) == n
    # mono mix of the PCM16-quantized channels, within quantization error
    assert np.abs(back - x.mean(axis=1)).max() <= 1.5 / 32768 * channels


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 200),
    kind=st.sampled_from(["tokens", "walk", "const", "gaps", "wild"]),
    irregular=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_gorilla_roundtrip_property(n, kind, irregular, seed):
    """Int64 token streams (the production domain), including the -1
    gap sentinel, constant runs, irregular timestamp deltas, and
    full-range wild values."""
    from kapra_spark.functions.gorilla import decode_block, encode_block

    rng = np.random.default_rng(seed)
    if kind == "tokens":
        vals = rng.integers(0, 256, size=n)
    elif kind == "walk":
        vals = np.cumsum(rng.integers(-3, 4, size=n))
    elif kind == "const":
        vals = np.full(n, int(rng.integers(-5, 5)))
    elif kind == "gaps":
        vals = rng.integers(0, 256, size=n)
        vals[rng.random(n) < 0.3] = -1
    else:
        vals = rng.integers(-2**40, 2**40, size=n)
    vals = vals.astype(np.int64)
    start = int(rng.integers(0, 2**31))
    if irregular:
        ts = start + np.cumsum(rng.integers(1, 3600, size=n))
    else:
        ts = start + 60 * np.arange(n, dtype=np.int64)
    ts = ts.astype(np.int64)
    t0, v0, n_out, payload = encode_block(ts, vals)
    ts2, vals2 = decode_block(t0, v0, n_out, payload)
    assert n_out == n
    assert (ts2 == ts).all()
    assert (vals2 == vals).all()


#: deltas between timestamps; their differences (the dods) reach all
#: five branches: 0, 7-bit, 9-bit, 12-bit and the 64-bit raw one
_DELTAS = np.array([60, 60, 60, 61, 120, 500, 3000, 10**9, -7], dtype=np.int64)
_I64 = np.iinfo(np.int64)


def _series(rng, n: int, kind: str, irregular: bool):
    if kind == "tokens":
        vals = rng.integers(0, 256, size=n)
    elif kind == "const":
        vals = np.full(n, int(rng.integers(-5, 5)))
    elif kind == "gaps":   # -1 gaps: wide xor fields around each gap
        vals = rng.integers(0, 256, size=n)
        vals[rng.random(n) < 0.3] = -1
    elif kind == "wild":   # xor fields of every width from 1 to 64 bits
        wide = 2 ** rng.integers(1, 63, size=n)
        vals = rng.integers(-wide, wide)
    else:                  # int64 extremes
        vals = rng.choice(np.array([_I64.min, _I64.max, 0, -1, 1], dtype=np.int64),
                          size=n)
    start = int(rng.integers(0, 2**40))
    steps = rng.choice(_DELTAS, size=n) if irregular else np.full(n, 60)
    ts = start + np.concatenate([[0], np.cumsum(steps[1:])])
    return ts.astype(np.int64), vals.astype(np.int64)


@settings(max_examples=30, deadline=None)
@given(
    ns=st.lists(st.sampled_from([1, 2, 144, 1440, 1500]), min_size=1, max_size=5),
    kinds=st.lists(st.sampled_from(["tokens", "const", "gaps", "wild", "extremes"]),
                   min_size=5, max_size=5),
    irregular=st.lists(st.booleans(), min_size=5, max_size=5),
    lead=st.integers(0, 3),
    seed=st.integers(0, 2**31 - 1),
)
def test_gorilla_batch_decoder_matches_certificate(ns, kinds, irregular, lead, seed):
    """The production decoder (decode_batch_arrow) equals the serial
    certificate (decode_block) on ragged batches read from a sliced
    BinaryArray, and every block consumes exactly its payload bytes."""
    import pyarrow as pa

    from kapra_spark.functions.gorilla import (decode_batch_arrow,
                                               decode_block, encode_block)

    rng = np.random.default_rng(seed)
    series = [_series(rng, n, kinds[i], irregular[i]) for i, n in enumerate(ns)]
    blocks = [encode_block(ts, vals) for ts, vals in series]
    t0, v0, n, payloads = (list(c) for c in zip(*blocks))
    junk = [rng.bytes(int(rng.integers(0, 9))) for _ in range(lead)]
    sliced = pa.array(junk + payloads, type=pa.binary()).slice(lead)
    assert sliced.offset == lead
    ts, vals, bits = decode_batch_arrow(np.array(t0), np.array(v0), np.array(n), sliced)
    ends = np.cumsum(n)
    for i, (want_ts, want_vals) in enumerate(series):
        cert_ts, cert_vals = decode_block(t0[i], v0[i], n[i], payloads[i])
        got = slice(ends[i] - n[i], ends[i])
        assert (ts[got] == cert_ts).all() and (vals[got] == cert_vals).all()
        assert (cert_ts == want_ts).all() and (cert_vals == want_vals).all()
        assert -(-bits[i] // 8) == len(payloads[i])
