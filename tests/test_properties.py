"""Property-based tests (hypothesis) for the pure-function surfaces:
media codecs and the CSV-aware arity masker. No Spark session — these
run in milliseconds and explore the input space far beyond the
hand-written fixtures."""

from __future__ import annotations

import csv as _csv
import io
import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from babylon_data_loader_spark.functions import media_codecs as mc
from babylon_data_loader_spark.sources.csv_source import _QUOTED_SECTION
from tests.fixtures import encode_png, encode_ppm

dims = st.tuples(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
)


@st.composite
def images(draw):
    h, w = draw(dims)
    data = draw(
        st.binary(min_size=h * w * 3, max_size=h * w * 3).map(
            lambda b: np.frombuffer(b, np.uint8).reshape(h, w, 3)
        )
    )
    return data


@settings(max_examples=50, deadline=None)
@given(images())
def test_bmp_roundtrip(px):
    assert np.array_equal(mc.decode_bmp(mc.encode_bmp(px)), px)


@settings(max_examples=50, deadline=None)
@given(images())
def test_ppm_roundtrip(px):
    assert np.array_equal(mc.decode_ppm(encode_ppm(px)), px)


@settings(max_examples=50, deadline=None)
@given(images())
def test_png_roundtrip(px):
    assert np.array_equal(mc.decode_png(encode_png(px)), px)


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=1, max_value=5000),
    st.integers(min_value=1, max_value=2),
    st.sampled_from([8000, 16000, 44100]),
    st.integers(),
)
def test_wav_roundtrip(n, ch, sr, seed):
    rng = np.random.default_rng(abs(seed) % 2**32)
    samples = rng.integers(-32768, 32767, (n, ch), dtype=np.int16)
    decoded, out_sr = mc.decode_wav(mc.encode_wav(samples, sr))
    assert out_sr == sr
    assert np.array_equal(decoded, samples)


# CSV arity masking: the regex must count separators exactly like a
# real CSV tokenizer for any quoted content (Go csv semantics: quotes
# escape by doubling).
field = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="\r\n"
    ),
    max_size=12,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(field, min_size=1, max_size=8))
def test_arity_mask_matches_csv_tokenizer(fields):
    buf = io.StringIO()
    _csv.writer(
        buf, quoting=_csv.QUOTE_ALL, doublequote=True, lineterminator=""
    ).writerow(fields)
    line = buf.getvalue()
    masked = re.sub(_QUOTED_SECTION, "Q", line)
    arity = len(masked.split(","))
    assert arity == len(fields), (line, masked)


@settings(max_examples=50, deadline=None)
@given(
    st.integers(1, 5),
    st.integers(1, 12),
    st.integers(1, 12),
    st.sampled_from([(24, 1), (30, 1), (30000, 1001)]),
    st.integers(0, 2**31 - 1),
)
def test_y4m_roundtrip_and_frame_access(n, w, h, fps, seed):
    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
    data = mc.encode_y4m(frames, fps[0])
    # the encoder writes a whole-number rate; a fractional one
    # (NTSC 30000:1001) is spelled in the header alone
    rate = f"F{fps[0]}:{fps[1]} ".encode()
    data = data.replace(f"F{fps[0]}:1 ".encode(), rate, 1)
    info = mc.y4m_info(data)
    assert (info["width"], info["height"], info["n_frames"]) == (w, h, n)
    assert (info["fps_num"], info["fps_den"]) == fps
    assert info["duration_s"] == n * fps[1] / fps[0]
    for i in (0, n - 1):
        assert np.array_equal(mc.decode_y4m_frame(data, i), frames[i])


def test_y4m_rejects_garbage():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mc.y4m_info(b"RIFF....WAVE")
    frames = np.zeros((1, 2, 2, 3), dtype=np.uint8)
    data = mc.encode_y4m(frames, 24)
    with _pytest.raises(ValueError):
        mc.y4m_info(data[:-1])  # truncated frame data
    import pytest as _pytest2

    with _pytest2.raises(IndexError):
        mc.decode_y4m_frame(data, 5)


@settings(max_examples=50, deadline=None)
@given(
    images(),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=1, max_value=64),
)
def test_nn_resize_matches_index_map(px, out_w, out_h):
    got = mc.nn_resize(px, out_w, out_h)
    assert got.shape == (out_h, out_w, 3)
    yi = (np.arange(out_h) * px.shape[0]) // out_h
    xi = (np.arange(out_w) * px.shape[1]) // out_w
    assert np.array_equal(got, px[yi][:, xi])
    # every output pixel exists somewhere in the input
    assert got.max(initial=0) <= px.max(initial=0)


@settings(max_examples=25, deadline=None)
@given(images())
def test_nn_resize_identity(px):
    h, w = px.shape[0], px.shape[1]
    assert np.array_equal(mc.nn_resize(px, w, h), px)


# linear_resample -------------------------------------------------------------

audio_arrays = st.lists(
    st.integers(min_value=-32768, max_value=32767), min_size=2, max_size=400
).map(lambda xs: np.array(xs, dtype=np.int16))


@settings(max_examples=50, deadline=None)
@given(audio_arrays, st.sampled_from([4000, 8000, 16000, 44100]))
def test_linear_resample_identity_at_same_rate(xs, sr):
    got = mc.linear_resample(xs, sr, sr)
    assert np.array_equal(got[:, 0], xs)


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=-32768, max_value=32767),
    st.integers(min_value=2, max_value=500),
    st.sampled_from([(16000, 8000), (8000, 16000), (44100, 8000)]),
)
def test_linear_resample_constant_preserved(val, n, rates):
    sr, target = rates
    xs = np.full(n, val, dtype=np.int16)
    got = mc.linear_resample(xs, sr, target)
    assert got.shape[0] == (n * target) // sr
    assert (got == val).all()


@settings(max_examples=50, deadline=None)
@given(audio_arrays, st.sampled_from([(16000, 8000), (8000, 16000)]))
def test_linear_resample_bounds_and_length(xs, rates):
    """Linear interpolation can never overshoot the input range, and
    the output length follows the integer floor law."""
    sr, target = rates
    got = mc.linear_resample(xs, sr, target)
    assert got.shape[0] == (len(xs) * target) // sr
    assert got.min() >= xs.min() and got.max() <= xs.max()
