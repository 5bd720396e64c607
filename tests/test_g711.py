"""G.711 mu-law / A-law companding — pinned EXHAUSTIVELY against
CPython's audioop (the CCITT g711.c reference tables), round 9
continuation.

audioop is deprecated-but-present on this Python (3.11); if a future
runtime drops it, this suite skips.
"""

from __future__ import annotations

import struct
import warnings

import pytest

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal import (
    _alaw2lin,
    _lin2alaw,
    _lin2ulaw,
    _ulaw2lin,
    decode_wav,
    encode_wav_g711,
)

audioop = pytest.importorskip("audioop")
warnings.filterwarnings("ignore", category=DeprecationWarning)


def test_ulaw_decode_all_256_codes_match_audioop():
    for c in range(256):
        ref = struct.unpack("<h", audioop.ulaw2lin(bytes([c]), 2))[0]
        assert _ulaw2lin(c) == ref, c


def test_alaw_decode_all_256_codes_match_audioop():
    for c in range(256):
        ref = struct.unpack("<h", audioop.alaw2lin(bytes([c]), 2))[0]
        assert _alaw2lin(c) == ref, c


def test_ulaw_encode_all_65536_inputs_match_audioop():
    pcm = struct.pack("<32768h", *range(-32768, 0)) + struct.pack(
        "<32768h", *range(32768)
    )
    ref = audioop.lin2ulaw(pcm, 2)
    for i, s in enumerate(range(-32768, 32768)):
        assert _lin2ulaw(s) == ref[i], s


def test_alaw_encode_all_65536_inputs_match_audioop():
    pcm = struct.pack("<32768h", *range(-32768, 0)) + struct.pack(
        "<32768h", *range(32768)
    )
    ref = audioop.lin2alaw(pcm, 2)
    for i, s in enumerate(range(-32768, 32768)):
        assert _lin2alaw(s) == ref[i], s


def test_companding_roundtrip_is_idempotent_on_codewords():
    # decode -> encode must reproduce every code (each expanded value
    # is its segment's reconstruction level)... except the mu-law
    # +0/-0 pair which collapses (0xFF and 0x7F both expand to 0;
    # the re-encode canonicalizes to 0xFF) and nothing else.
    u_bad = [c for c in range(256) if _lin2ulaw(_ulaw2lin(c)) != c]
    assert u_bad == [0x7F]
    assert _lin2ulaw(_ulaw2lin(0x7F)) == 0xFF
    a_bad = [c for c in range(256) if _lin2alaw(_alaw2lin(c)) != c]
    assert a_bad == []


def test_g711_wav_roundtrip_and_dispatch():
    samples = list(range(-32768, 32768, 1009))
    for law, tag_bits in (("ulaw", 8), ("alaw", 8)):
        p = encode_wav_g711(16000, samples, law=law)
        rate, bits, nch, out = decode_wav(p)
        assert (rate, bits, nch) == (16000, tag_bits, 1)
        exp = (
            [_ulaw2lin(_lin2ulaw(s)) for s in samples]
            if law == "ulaw"
            else [_alaw2lin(_lin2alaw(s)) for s in samples]
        )
        assert out == exp
        # companding error bounded by the segment step (~3% of value)
        for s, o in zip(samples, out):
            assert abs(s - o) <= max(64, abs(s) // 8)


def test_g711_stereo_interleave():
    p = encode_wav_g711(8000, [1000, -1000] * 4, law="ulaw", n_channels=2)
    rate, _b, nch, out = decode_wav(p)
    assert nch == 2
    assert out[0::2] == [out[0]] * 4 and out[1::2] == [out[1]] * 4
    assert out[0] > 0 > out[1]


def test_g711_encode_validation():
    with pytest.raises(ValueError):
        encode_wav_g711(8000, [0], law="mp3")
    with pytest.raises(ValueError):
        encode_wav_g711(8000, [0, 1, 2], n_channels=2)
    with pytest.raises(ValueError):
        encode_wav_g711(8000, [40000])
    with pytest.raises(ValueError):
        encode_wav_g711(0, [0])
