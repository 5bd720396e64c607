"""GIF87a/89a codec (multimodal_gif) — LZW, interlace, transparency,
frame walking (round 9 continuation).

The codec substance is pinned here: a HAND-ASSEMBLED fixture whose LZW
stream was bit-packed by hand from the spec (independent of the
encoder), exhaustive small-alphabet LZW fuzz, the width-growth boundary at the flush code (the desync the
common ``next_code`` shortcut hits), 12-bit table overflow with clear
resets, interlace, sub-frame placement + GCE transparency, and the
error taxonomy.
"""

from __future__ import annotations

import itertools
import struct

import numpy as np
import pytest

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal import (
    decode_image,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_gif import (
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    encode_gif,
    gif_frame_count,
)

RED, GREEN = b"\xff\x00\x00", b"\x00\xff\x00"


def _hand_fixture() -> bytes:
    """3x1 image, 2-color palette, pixels [red, green, red]. The LZW
    stream is hand-packed from the spec: codes clear(4) 0 1 0 eoi(5),
    widths 3,3,3,3,4 (the decoder's table hits 8 = 2^3 on the final
    data code, so EOI reads at width 4) -> LSB-first bytes 0x44 0x50.
    """
    return (
        b"GIF87a"
        + struct.pack("<HH", 3, 1)
        + bytes([0x80, 0x00, 0x00])  # GCT of 2, bg 0, no aspect
        + RED + GREEN
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 3, 1) + b"\x00"
        + bytes([2])  # LZW min code size
        + bytes([2, 0x44, 0x50, 0])
        + b"\x3b"
    )


def test_hand_assembled_fixture_decodes():
    w, h, rgb = decode_gif(_hand_fixture())
    assert (w, h) == (3, 1)
    assert rgb == RED + GREEN + RED


def test_encoder_reproduces_hand_packed_stream():
    # same pixel stream -> the encoder must emit the exact hand-packed
    # bytes (clear + three literals + EOI at width 4)
    assert _lzw_encode(bytes([0, 1, 0]), 2) == bytes([0x44, 0x50])


def test_lzw_exhaustive_small_alphabet():
    for ln in range(1, 7):
        for tup in itertools.product(range(3), repeat=ln):
            b = bytes(tup)
            assert bytes(_lzw_decode(_lzw_encode(b, 2), 2, ln)) == b


@pytest.mark.parametrize("mcs", [2, 3, 5, 8])
def test_lzw_random_roundtrip_and_table_overflow(mcs):
    rng = np.random.default_rng(mcs)
    nsym = 1 << mcs
    for ln in (1, 10, 1000, 20000):  # 20k random symbols overflow 4096 codes
        b = rng.integers(0, nsym, size=ln).astype(np.uint8).tobytes()
        assert bytes(_lzw_decode(_lzw_encode(b, mcs), mcs, ln)) == b


def test_lzw_kwkwk_special_case():
    # 'aaaa...' forces the code == len(table) branch immediately
    b = bytes([1]) * 50
    assert bytes(_lzw_decode(_lzw_encode(b, 2), 2, 50)) == b


def test_roundtrip_plain_and_interlaced():
    rng = np.random.default_rng(7)
    for w, h, ncol in [(1, 1, 1), (7, 5, 2), (33, 17, 5), (64, 64, 200)]:
        pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
        rgb = pal[rng.integers(0, ncol, size=w * h)].tobytes()
        for interlace in (False, True):
            p = encode_gif(w, h, rgb, interlace=interlace)
            assert decode_gif(p) == (w, h, rgb)
            assert decode_image(p) == (w, h, rgb)  # dispatch wired in
            assert gif_frame_count(p) == 1


def test_multiframe_walk_and_version():
    rgb = (RED + GREEN) * 6
    p1 = encode_gif(4, 3, rgb, n_frames=1)
    p4 = encode_gif(4, 3, rgb, n_frames=4)
    assert p1.startswith(b"GIF87a") and p4.startswith(b"GIF89a")
    assert gif_frame_count(p1) == 1 and gif_frame_count(p4) == 4
    assert decode_gif(p4)[:2] == (4, 3)  # first frame still decodes


def test_subframe_placement_and_transparency():
    """A 2x2 image at offset (1,1) on a 4x4 screen, with a GCE marking
    palette index 1 transparent: background shows through."""
    gct = RED + GREEN + b"\x00\x00\xff" + b"\x00\x00\x00"
    inner = _lzw_encode(bytes([2, 1, 1, 2]), 2)  # blue/transp/transp/blue
    payload = (
        b"GIF89a"
        + struct.pack("<HH", 4, 4)
        + bytes([0x81, 0x00, 0x00])  # GCT of 4, bg index 0 (red)
        + gct
        + b"\x21\xf9" + bytes([4, 0x01, 0, 0, 1]) + b"\x00"  # GCE: transp=1
        + b"\x2c" + struct.pack("<HHHH", 1, 1, 2, 2) + b"\x00"
        + bytes([2, len(inner)]) + inner + b"\x00"
        + b"\x3b"
    )
    w, h, rgb = decode_gif(payload)
    px = [rgb[3 * i : 3 * i + 3] for i in range(16)]
    blue = b"\x00\x00\xff"
    # row 1: (1,1)=blue (2,1)=transparent->red; row 2 mirrored
    assert px[5] == blue and px[6] == RED
    assert px[9] == RED and px[10] == blue
    assert all(p == RED for i, p in enumerate(px) if i not in (5, 6, 9, 10))


def test_local_color_table_overrides_global():
    inner = _lzw_encode(bytes([0]), 2)
    payload = (
        b"GIF87a"
        + struct.pack("<HH", 1, 1)
        + bytes([0x80, 0x00, 0x00])
        + RED + GREEN  # global says red
        + b"\x2c" + struct.pack("<HHHH", 0, 0, 1, 1)
        + bytes([0x80])  # local table present, size 2
        + b"\x00\x00\xff" + b"\xff\xff\xff"  # local says blue
        + bytes([2, len(inner)]) + inner + b"\x00"
        + b"\x3b"
    )
    assert decode_gif(payload) == (1, 1, b"\x00\x00\xff")


def test_encode_rejects_bad_input():
    with pytest.raises(ValueError):
        encode_gif(2, 2, b"\x00" * 5)  # wrong byte count
    with pytest.raises(ValueError):
        encode_gif(1, 1, b"\x00" * 3, n_frames=0)
    rng = np.random.default_rng(0)
    many = rng.integers(0, 256, size=(257, 3), dtype=np.uint8)
    many = np.unique(many, axis=0)
    assert len(many) > 256 or pytest.skip("rng collision")
    with pytest.raises(ValueError):
        encode_gif(len(many), 1, many.tobytes())


def test_decode_error_taxonomy():
    with pytest.raises(NotImplementedError):
        decode_gif(b"NOTGIF" + b"\x00" * 20)  # wrong magic
    p = encode_gif(4, 3, (RED + GREEN) * 6)
    with pytest.raises(ValueError):
        decode_gif(p[:-10])  # truncated data
    with pytest.raises(ValueError):
        gif_frame_count(p[:-1])  # missing trailer
    # no image data before trailer
    empty = p[:13] + p[13 : 13 + 6] + b"\x3b"
    with pytest.raises(ValueError):
        decode_gif(empty)


# ------------------------------------------------------------------ animation


def test_animation_disposal_leave_accumulates():
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_gif import (
        decode_gif_frames,
        encode_gif_animation,
    )

    blue, white = b"\x00\x00\xff", b"\xff\xff\xff"
    # 4x2 screen: frame 1 paints the left 2x2 blue, frame 2 the right
    # 2x2 white; disposal 1 (leave) -> frame 2's canvas shows BOTH
    p = encode_gif_animation(
        4, 2,
        [(0, 0, 2, 2, blue * 4), (2, 0, 2, 2, white * 4)],
        delays_ms=[50, 120],
        disposals=[1, 1],
    )
    frames = decode_gif_frames(p)
    assert [d for d, _disp, _ in frames] == [50, 120]
    f1, f2 = frames[0][2], frames[1][2]
    assert f1 == blue * 2 + b"\x00\x00\x00" * 2 + blue * 2 + b"\x00\x00\x00" * 2
    assert f2 == blue * 2 + white * 2 + blue * 2 + white * 2


def test_animation_disposal_restore_background():
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_gif import (
        decode_gif_frames,
        encode_gif_animation,
    )

    red = b"\xff\x00\x00"
    green = b"\x00\xff\x00"
    # disposal 2 after frame 1 wipes its rect back to background, so
    # frame 2's canvas shows ONLY frame 2
    p = encode_gif_animation(
        3, 1,
        [(0, 0, 1, 1, red), (2, 0, 1, 1, green)],
        disposals=[2, 1],
        background=b"\x10\x20\x30",
    )
    frames = decode_gif_frames(p)
    bg = b"\x10\x20\x30"
    assert frames[0][2] == red + bg + bg
    assert frames[1][2] == bg + bg + green


def test_animation_disposal_restore_previous():
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_gif import (
        decode_gif_frames,
        encode_gif_animation,
    )

    a, b, c = b"\x01\x01\x01", b"\x02\x02\x02", b"\x03\x03\x03"
    # frame1 paints whole 1x1 screen a (disposal 1); frame2 paints b
    # with disposal 3 (restore previous); frame3 paints nothing new?
    # paint c only on a sub-rect of a 2x1 screen to see the restore
    p = encode_gif_animation(
        2, 1,
        [(0, 0, 2, 1, a + a), (0, 0, 1, 1, b), (1, 0, 1, 1, c)],
        disposals=[1, 3, 1],
    )
    frames = decode_gif_frames(p)
    assert frames[0][2] == a + a
    assert frames[1][2] == b + a  # b painted over a
    assert frames[2][2] == a + c  # b was undone by disposal 3


def test_animation_first_frame_matches_still_decoder():
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_gif import (
        decode_gif,
        decode_gif_frames,
        encode_gif_animation,
        gif_frame_count,
    )

    rng = np.random.default_rng(17)
    pal = rng.integers(0, 256, size=(7, 3), dtype=np.uint8)
    f1 = pal[rng.integers(0, 7, size=12)].tobytes()
    f2 = pal[rng.integers(0, 7, size=12)].tobytes()
    p = encode_gif_animation(4, 3, [(0, 0, 4, 3, f1), (0, 0, 4, 3, f2)])
    assert gif_frame_count(p) == 2
    # the still decoder's first-frame contract agrees with frame 0 of
    # the compositor
    assert decode_gif(p)[2] == decode_gif_frames(p)[0][2]
    assert decode_gif_frames(p)[1][2] == f2


def test_animation_validation():
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_gif import (
        encode_gif_animation,
    )

    with pytest.raises(ValueError):
        encode_gif_animation(2, 2, [])
    with pytest.raises(ValueError):
        encode_gif_animation(2, 2, [(1, 1, 2, 2, b"\x00" * 12)])  # outside
    with pytest.raises(ValueError):
        encode_gif_animation(2, 2, [(0, 0, 2, 2, b"\x00" * 5)])  # bad len
    with pytest.raises(ValueError):
        encode_gif_animation(
            2, 2, [(0, 0, 2, 2, b"\x00" * 12)], disposals=[7]
        )
