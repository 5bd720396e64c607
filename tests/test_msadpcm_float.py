"""MS-ADPCM (WAV tag 2) and IEEE-float (tag 3) codecs — round 9
continuation, closing the last WAV-format stubs.
"""

from __future__ import annotations

import math
import struct

import pytest

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal import (
    _MS_ADAPT,
    _MS_COEFS,
    _trunc_div,
    decode_wav,
    encode_wav_float,
    encode_wav_ms_adpcm,
)


# ------------------------------------------------------------------ MS-ADPCM


def test_msadpcm_constant_signal_is_exact():
    for c in (-30050, -1, 0, 7, 32767, -32768):
        p = encode_wav_ms_adpcm(8000, [c] * 700, samples_per_block=128)
        rate, bits, nch, out = decode_wav(p)
        assert (rate, bits, nch) == (8000, 4, 1)
        assert out == [c] * 700


def test_msadpcm_tone_reconstruction_bound():
    tone = [
        int(12000 * math.sin(2 * math.pi * 440 * i / 16000)) for i in range(3000)
    ]
    out = decode_wav(encode_wav_ms_adpcm(16000, tone, samples_per_block=500))[3]
    assert len(out) == 3000
    assert max(abs(a - b) for a, b in zip(tone, out)) < 400


def test_msadpcm_stereo_channels_kept_apart():
    left = [int(8000 * math.sin(2 * math.pi * 300 * i / 8000)) for i in range(1000)]
    right = [int(6000 * math.sin(2 * math.pi * 700 * i / 8000)) for i in range(1000)]
    inter = [v for pair in zip(left, right) for v in pair]
    rate, _b, nch, out = decode_wav(
        encode_wav_ms_adpcm(8000, inter, n_channels=2, samples_per_block=200)
    )
    assert nch == 2 and len(out) == 2000
    assert max(abs(a - b) for a, b in zip(left, out[0::2])) < 600
    assert max(abs(a - b) for a, b in zip(right, out[1::2])) < 600


def test_msadpcm_fact_trims_padded_tail_block():
    # 130 frames with spb=128: tail block padded to 128, fact trims
    sig = list(range(-65, 65))
    out = decode_wav(encode_wav_ms_adpcm(8000, sig, samples_per_block=128))[3]
    assert len(out) == 130


def test_msadpcm_is_not_ima():
    """MS and IMA ADPCM are distinct formats: same PCM through both
    encoders yields different bytes and both decode back — guards
    against one path silently aliasing the other."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal import (
        encode_wav_adpcm,
    )

    tone = [int(5000 * math.sin(2 * math.pi * i / 50)) for i in range(600)]
    ms = encode_wav_ms_adpcm(8000, tone)
    ima = encode_wav_adpcm(8000, tone)
    assert ms != ima
    tag_ms = struct.unpack_from("<H", ms, ms.index(b"fmt ") + 8)[0]
    tag_ima = struct.unpack_from("<H", ima, ima.index(b"fmt ") + 8)[0]
    assert (tag_ms, tag_ima) == (2, 17)
    assert len(decode_wav(ms)[3]) == 600
    assert len(decode_wav(ima)[3]) == 600


def test_msadpcm_adaptation_table_and_truncdiv():
    # the spec's truncating division differs from Python's floor on
    # negatives — the decoder depends on it
    assert _trunc_div(-5 * 256, 256) == -5
    assert _trunc_div(-255, 256) == 0
    assert _trunc_div(255, 256) == 0
    assert len(_MS_COEFS) == 7 and len(_MS_ADAPT) == 16
    assert _MS_COEFS[0] == (256, 0)


def test_msadpcm_rejects_bad_predictor():
    p = bytearray(encode_wav_ms_adpcm(8000, [0] * 10, samples_per_block=10))
    i = p.index(b"data") + 8  # first block's predictor byte
    p[i] = 9
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(p))


def test_msadpcm_encode_validation():
    with pytest.raises(ValueError):
        encode_wav_ms_adpcm(8000, [0, 1, 2], n_channels=2)
    with pytest.raises(ValueError):
        encode_wav_ms_adpcm(8000, [40000])
    with pytest.raises(ValueError):
        encode_wav_ms_adpcm(8000, [0], samples_per_block=1)


# ---------------------------------------------------------------- IEEE float


def test_float_dyadic_values_round_exactly():
    for k in (-32, -1, 0, 1, 17, 32):
        p = encode_wav_float(16000, [k / 64.0] * 5)
        _r, bits, _n, out = decode_wav(p)
        assert bits == 32
        m = k * 32767
        want = math.floor(m / 64 + 0.5) if m >= 0 else math.ceil(m / 64 - 0.5)
        assert out == [want] * 5, k


def test_float_half_away_rounding():
    # 0.5/32767 * 32767 = 0.5 exactly -> rounds to 1 (away from zero)
    p = encode_wav_float(8000, [0.5 / 32767, -0.5 / 32767], bits=64)
    assert decode_wav(p)[3] == [1, -1]


def test_float_clips_out_of_range():
    p = encode_wav_float(8000, [2.0, -3.5, 1.0, -1.0])
    assert decode_wav(p)[3] == [32767, -32768, 32767, -32767]


def test_float_nan_routes_to_zero():
    p = encode_wav_float(8000, [float("nan"), 0.25])
    assert decode_wav(p)[3] == [0, 8192]


def test_float_64bit_and_stereo():
    vals = [0.5, -0.5, 0.25, -0.25]
    p = encode_wav_float(44100, vals, bits=64, n_channels=2)
    rate, bits, nch, out = decode_wav(p)
    assert (rate, bits, nch) == (44100, 64, 2)
    assert out == [16384, -16384, 8192, -8192]  # 0.5*32767 = 16383.5 -> 16384


def test_float_encode_validation():
    with pytest.raises(ValueError):
        encode_wav_float(8000, [0.0], bits=16)
    with pytest.raises(ValueError):
        encode_wav_float(8000, [0.0, 0.1, 0.2], n_channels=2)
    with pytest.raises(ValueError):
        encode_wav_float(0, [0.0])
