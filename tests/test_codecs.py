import numpy as np
import pytest

from assetdatavalidationtool_spark.codecs import (
    decode_image,
    decode_png,
    encode_image,
    encode_png,
    encode_stub_lossy,
    psnr,
)
from assetdatavalidationtool_spark.datagen import make_row, render_image, row_params


def test_png_roundtrip_exact():
    img = render_image("img_000000000003", 96, 64)
    assert (decode_png(encode_png(img)) == img).all()


def test_lossy_default_quality_above_gate():
    img = render_image("img_000000000011", 128, 128)
    for fmt in ("jpeg", "webp"):
        p = psnr(img, decode_image(encode_image(img, fmt), fmt))
        assert p >= 40.0, f"{fmt} default quality must clear the 40dB gate, got {p}"


def test_lossy_low_quality_below_gate():
    img = render_image("img_000000000011", 128, 128)
    p = psnr(img, decode_image(encode_stub_lossy(img, "jpeg", 32), "jpeg"))
    assert p < 40.0


def test_psnr_identical_is_inf_and_shape_mismatch_is_neg_inf():
    a = np.zeros((4, 4, 3), np.uint8)
    assert psnr(a, a) == float("inf")
    assert psnr(a, np.zeros((4, 5, 3), np.uint8)) == float("-inf")


def test_datagen_deterministic():
    r1, r2 = make_row(17), make_row(17)
    assert r1 == r2
    p = row_params(17)
    assert p["image_id"] == "img_000000000017"
    assert p["w"] in (64, 128, 256, 512) and p["fmt"] in ("png", "jpeg", "webp")


def test_render_deterministic_across_calls():
    a = render_image("img_000000000042", 64, 64)
    b = render_image("img_000000000042", 64, 64)
    assert (a == b).all()


# --------------------------------------------------------------------------
# Property-based round-trip invariants (hypothesis): the per-row
# invariant rules assume these codec laws for ARBITRARY content, not
# just datagen renders — fuzz them.
# --------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from assetdatavalidationtool_spark.codecs import (
    decode_wav,
    decode_y4m,
    encode_wav,
    encode_y4m,
)

_img_strategy = st.tuples(
    st.integers(min_value=1, max_value=24),  # h
    st.integers(min_value=1, max_value=24),  # w
    st.integers(min_value=0, max_value=2**32 - 1),  # seed
).map(
    lambda t: np.random.default_rng(t[2]).integers(
        0, 256, size=(t[0], t[1], 3), dtype=np.uint8
    )
)


@settings(max_examples=30, deadline=None)
@given(img=_img_strategy)
def test_png_roundtrip_any_content(img):
    assert (decode_png(encode_png(img)) == img).all()


@settings(max_examples=30, deadline=None)
@given(
    samples=arrays(np.int16, st.integers(min_value=1, max_value=500),
                   elements=st.integers(min_value=-32768, max_value=32767)),
    sr=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_any_content(samples, sr):
    got, got_sr = decode_wav(encode_wav(samples, sr))
    assert got_sr == sr
    assert np.array_equal(got[:, 0], samples)


@settings(max_examples=15, deadline=None)
@given(
    frames=st.tuples(
        st.integers(min_value=1, max_value=4),   # n_frames
        st.integers(min_value=1, max_value=8),   # h/2
        st.integers(min_value=1, max_value=8),   # w/2
        st.integers(min_value=0, max_value=2**32 - 1),
    ).map(
        lambda t: np.random.default_rng(t[3]).integers(
            0, 256, size=(t[0], t[1] * 2, t[2] * 2, 3), dtype=np.uint8
        )
    ),
    fps=st.sampled_from([24, 30]),
)
def test_y4m_c444_roundtrip_within_one(frames, fps):
    """C444 (no chroma subsampling) must round-trip within ±1 per
    channel (BT.601 integer transform) for arbitrary content."""
    got, got_fps = decode_y4m(encode_y4m(frames, fps=fps, subsampling="444"))
    assert got_fps == fps and len(got) == len(frames)
    for a, b in zip(got, frames):
        assert a.shape == b.shape
        assert np.abs(a.astype(np.int16) - b.astype(np.int16)).max() <= 1


_DECODERS = (decode_png, lambda b: decode_image(b, "jpeg"), decode_wav, decode_y4m)


@settings(max_examples=20, deadline=None)
@given(data=st.binary(min_size=0, max_size=200))
def test_decoders_never_hang_on_garbage(data):
    """Arbitrary bytes must raise cleanly and only a codec data error
    (the media harness turns exactly ``DATA_ERRORS`` into row faults;
    anything else would fail the Spark task)."""
    from assetdatavalidationtool_spark.codecs import DATA_ERRORS

    for dec in _DECODERS:
        try:
            dec(data)
        except DATA_ERRORS:
            pass


def test_decoders_raise_only_data_errors_on_corrupt_payloads():
    """Every truncation and every single-byte flip of a valid PNG,
    stub-lossy, WAV and Y4M payload either decodes or raises one of
    ``DATA_ERRORS`` — including a Y4M header with a zero frame-rate
    denominator."""
    from assetdatavalidationtool_spark.codecs import DATA_ERRORS

    img = render_image("img_000000000005", 16, 8)
    video = encode_y4m(np.stack([img, img[::-1]]), subsampling="444")
    with pytest.raises(ValueError, match="frame rate"):
        decode_y4m(video.replace(b" F30:1 ", b" F30:0 "))
    png, jpeg, wav, y4m = _DECODERS
    for dec, data in [
        (png, encode_png(img)),
        (jpeg, encode_image(img, "jpeg")),
        (wav, encode_wav(np.arange(-100, 100, dtype=np.int16) * 300)),
        (y4m, video),
        (y4m, encode_y4m(np.stack([img]), subsampling="420")),
    ]:
        variants = [data[:k] for k in range(len(data))]
        variants += [data[:k] + bytes([data[k] ^ 0xFF]) + data[k + 1:] for k in range(len(data))]
        for v in variants:
            try:
                dec(v)
            except DATA_ERRORS:
                pass


def test_psnr_fused_path_matches_float64_reference():
    """r6 guard: the uint8 fast path (equality short-circuit + fused
    einsum sum-of-squares) must equal the naive float64 formulation
    bit-for-bit — the PSNR gate and the violation detail strings both
    derive from this value."""
    rng = np.random.RandomState(7)
    for shape in [(8, 6, 3), (64, 64, 3), (512, 256, 3), (1, 1, 3)]:
        a = rng.randint(0, 256, size=shape).astype(np.uint8)
        for mutate in (False, True):
            b = a.copy()
            if mutate:
                b.flat[:: max(b.size // 17, 1)] ^= 5
            ref_mse = np.mean(
                (a.astype(np.float64) - b.astype(np.float64)) ** 2
            )
            expect = (
                float("inf")
                if ref_mse == 0.0
                else float(20.0 * np.log10(255.0) - 10.0 * np.log10(ref_mse))
            )
            assert psnr(a, b) == expect


def test_render_image_frozen_bytes():
    """r6 guard: render_image output is pinned — the validation UDF
    re-renders references that must stay bit-identical to images
    generated (and parquet-cached) by any earlier code version."""
    import hashlib

    pins = {
        ("img_000000000003", 96, 64): "89c4451842922e418b158ce6dbc19be5",
        ("img_000000000011", 128, 128): "f0453e1377537fb9e25528cc04d12855",
        ("img_000000000042", 512, 64): "868aa7b487cb87d9db0c24878379a348",
    }
    for (iid, w, h), want in pins.items():
        got = hashlib.md5(render_image(iid, w, h).tobytes()).hexdigest()
        assert got == want, f"{iid} {w}x{h}: {got} != {want}"
