"""Pure-Python PNG codec: golden roundtrips + end-to-end Spark path.

Moves S3/K1 (full decode, image write) from 'partial' to real for one
genuine format: reference parity per /root/reference/modules/
tiling.py:21,68 (PIL open/crop/save) and other_tasks.py:54-60
(save-format options), re-expressed as registry codecs feeding the
Arrow mapInPandas kernels.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from dataset_batch_processor_spark.multimodal import binary, png


def _rand(h, w, seed=0):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_roundtrip_every_filter(filter_type):
    arr = _rand(23, 17, seed=filter_type)
    out = png.decode_png(png.encode_png(arr, filter_type=filter_type))
    assert np.array_equal(out, arr)


def test_roundtrip_gradient_and_extremes():
    y, x = np.mgrid[0:40, 0:31]
    grad = np.stack([(x + y) % 256, x % 256, y % 256], axis=2).astype(np.uint8)
    for arr in (grad, np.zeros((5, 5, 3), np.uint8),
                np.full((3, 9, 3), 255, np.uint8), _rand(1, 1)):
        assert np.array_equal(png.decode_png(png.encode_png(arr)), arr)


def test_gray_input_promoted_to_rgb():
    g = np.arange(35, dtype=np.uint8).reshape(5, 7)
    out = png.decode_png(png.encode_png(g))
    assert out.shape == (5, 7, 3)
    assert np.array_equal(out[:, :, 0], g)


def _manual_png(w, h, ctype, bpp, raw_rows, extra_chunks=b""):
    """Hand-build a PNG with arbitrary color type for decode tests."""
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    scan = b"".join(b"\x00" + r for r in raw_rows)
    return (
        png.SIGNATURE
        + png._chunk(b"IHDR", ihdr)
        + extra_chunks
        + png._chunk(b"IDAT", zlib.compress(scan))
        + png._chunk(b"IEND", b"")
    )


def test_decode_rgba_drops_alpha():
    rgba = np.random.default_rng(1).integers(0, 256, (4, 6, 4), dtype=np.uint8)
    data = _manual_png(6, 4, 6, 4, [rgba[y].tobytes() for y in range(4)])
    assert np.array_equal(png.decode_png(data), rgba[:, :, :3])


def test_decode_gray_alpha_replicates_gray():
    ga = np.random.default_rng(2).integers(0, 256, (3, 5, 2), dtype=np.uint8)
    data = _manual_png(5, 3, 4, 2, [ga[y].tobytes() for y in range(3)])
    out = png.decode_png(data)
    assert out.shape == (3, 5, 3)
    assert np.array_equal(out[:, :, 1], ga[:, :, 0])


def test_decode_palette():
    palette = np.array([[250, 0, 0], [0, 250, 0], [0, 0, 250], [9, 9, 9]],
                       dtype=np.uint8)
    idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
    data = _manual_png(
        4, 2, 3, 1, [idx[y].tobytes() for y in range(2)],
        extra_chunks=png._chunk(b"PLTE", palette.tobytes()),
    )
    assert np.array_equal(png.decode_png(data), palette[idx])


def test_unsupported_depth_and_interlace_raise():
    arr = _rand(4, 4)
    good = png.encode_png(arr)
    # 16-bit is now a SUPPORTED depth (round 8): a relabeled 8-bit
    # body fails the scanline length check, not a depth gate
    ihdr16 = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    bad_depth = (png.SIGNATURE + png._chunk(b"IHDR", ihdr16)
                 + good[len(png.SIGNATURE) + 25:])
    with pytest.raises(ValueError, match="length mismatch"):
        png.decode_png(bad_depth)
    # depth 3 is invalid per spec
    ihdr3 = struct.pack(">IIBBBBB", 4, 4, 3, 2, 0, 0, 0)
    bad3 = (png.SIGNATURE + png._chunk(b"IHDR", ihdr3)
            + good[len(png.SIGNATURE) + 25:])
    with pytest.raises(ValueError, match="bit depth"):
        png.decode_png(bad3)
    # interlace method 2 does not exist (0=sequential, 1=Adam7 — both
    # now supported); and a SEQUENTIAL stream relabeled Adam7 has the
    # wrong byte layout for the 7-pass walk
    ihdr_i = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 2)
    bad_inter = (png.SIGNATURE + png._chunk(b"IHDR", ihdr_i)
                 + good[len(png.SIGNATURE) + 25:])
    with pytest.raises(ValueError, match="interlace"):
        png.decode_png(bad_inter)
    ihdr_a7 = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)
    relabeled = (png.SIGNATURE + png._chunk(b"IHDR", ihdr_a7)
                 + good[len(png.SIGNATURE) + 25:])
    with pytest.raises(ValueError):
        png.decode_png(relabeled)
    with pytest.raises(ValueError):
        png.decode_png(b"definitely not a png")


def test_registry_dispatch_and_sniffing():
    arr = _rand(8, 8)
    data = png.encode_png(arr)
    assert np.array_equal(binary.decode_any("png", data), arr)
    # magic sniffing wins over a lying extension
    assert np.array_equal(binary.decode_any("jpg", data), arr)
    assert np.array_equal(
        binary.ENCODERS["png"](arr), data
    )


def test_header_probe_agrees_with_decode(spark):
    from dataset_batch_processor_spark.sources import images

    arr = _rand(13, 29)
    dims = images.parse_png_header(png.encode_png(arr))
    assert dims == (29, 13)


def test_materialize_tiles_on_real_png(spark):
    """S3/K1 end-to-end: PNG bytes -> geometry -> crop -> pad -> encode."""
    arr = _rand(20, 20, seed=7)
    rows = [
        ("img1", png.encode_png(arr), "png", 0, 0, 0, 0, 12, 12),
        ("img1", png.encode_png(arr), "png", 0, 1, 8, 0, 20, 12),
        ("img2", b"corrupt bytes!!!", "png", 0, 0, 0, 0, 8, 8),
    ]
    df = spark.createDataFrame(
        rows,
        "id string, content binary, fmt string, i int, j int, "
        "box_left int, box_top int, box_right int, box_bottom int",
    )
    out = binary.materialize_tiles(df, tile_size=12, pad_option="Extend Edges")
    got = {(r.id, r.i, r.j): r for r in out.collect()}
    ok = got[("img1", 0, 0)]
    assert (ok.tile_h, ok.tile_w) == (12, 12)
    assert np.array_equal(
        binary.decode_rawrgb(bytes(ok.content)), arr[0:12, 0:12]
    )
    edge = got[("img1", 0, 1)]  # 12-wide crop from x=8, edge-padded
    dec = binary.decode_rawrgb(bytes(edge.content))
    assert dec.shape == (12, 12, 3)
    assert np.array_equal(dec[:, :12, :][:, : 20 - 8, :], arr[0:12, 8:20])
    assert got[("img2", 0, 0)].error is not None  # F7 quarantine


def test_convert_rawrgb_to_png_roundtrip(spark):
    arr = _rand(9, 11, seed=3)
    df = spark.createDataFrame(
        [("a", binary.encode_rawrgb(arr), "rawrgb")],
        "id string, content binary, fmt string",
    )
    out = binary.convert_batch(df, "png").collect()[0]
    assert out.error is None and (out.height, out.width) == (9, 11)
    assert np.array_equal(png.decode_png(bytes(out.content)), arr)


def test_materialize_tiles_spreads_skew(spark):
    """Verdict item 8: the (id, j) repartition before the decode UDF
    must exist in the plan, not just in prose."""
    arr = _rand(16, 16)
    df = spark.createDataFrame(
        [("img1", png.encode_png(arr), "png", 0, 0, 0, 0, 8, 8)],
        "id string, content binary, fmt string, i int, j int, "
        "box_left int, box_top int, box_right int, box_bottom int",
    )
    out = binary.materialize_tiles(df, tile_size=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(id" in plan and ", j" in plan


def test_png_roundtrip_property_hypothesis():
    """Property: ANY uint8 RGB array roundtrips losslessly through
    every filter type."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    @settings(max_examples=30, deadline=None)
    @given(
        arr=arrays(np.uint8, st.tuples(st.integers(1, 12), st.integers(1, 12),
                                       st.just(3))),
        ft=st.integers(0, 4),
    )
    def check(arr, ft):
        assert np.array_equal(
            png.decode_png(png.encode_png(arr, filter_type=ft)), arr
        )

    check()


# ----------------------------------------------------- Adam7 interlace


def test_adam7_roundtrip_all_filters_and_geometries():
    """Interlaced encode -> decode is lossless for every filter type,
    including geometries where some of the 7 passes are EMPTY
    (w<5 kills pass 2, h<5 kills pass 3, 1x1 leaves only pass 1)."""
    rng = np.random.default_rng(42)
    for h, w in [(1, 1), (1, 10), (3, 1), (2, 3), (4, 4), (7, 9),
                 (8, 8), (13, 5), (33, 31)]:
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for ft in range(5):
            data = png.encode_png(arr, filter_type=ft, interlace=True)
            assert np.array_equal(png.decode_png(data), arr), (h, w, ft)


def test_adam7_ihdr_flag_and_pass_layout():
    """The interlace byte is set, and the IDAT stream is the exact
    concatenation of the 7 per-pass filtered sub-images (spec 8.2):
    decoding a hand-assembled pass stream matches the stride gather."""
    arr = (np.arange(9 * 11 * 3, dtype=np.int64) % 256).astype(
        np.uint8
    ).reshape(9, 11, 3)
    data = png.encode_png(arr, interlace=True)
    ihdr = data[len(png.SIGNATURE) + 8 : len(png.SIGNATURE) + 8 + 13]
    assert ihdr[-1] == 1  # interlace method
    # hand-build the same stream: per pass, filter-0 rows of the gather
    parts = []
    for x0, y0, dx, dy in png._ADAM7:
        sub = arr[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        ph, pw, _ = sub.shape
        rows = np.zeros((ph, pw * 3 + 1), dtype=np.uint8)
        rows[:, 1:] = sub.reshape(ph, pw * 3)
        parts.append(rows.tobytes())
    idat = data[data.index(b"IDAT") + 4 : data.rindex(b"IEND") - 8]
    assert zlib.decompress(idat) == b"".join(parts)


def test_adam7_truncated_stream_rejected():
    arr = np.zeros((10, 10, 3), dtype=np.uint8)
    data = png.encode_png(arr, interlace=True)
    raw = zlib.decompress(data[data.index(b"IDAT") + 4 : data.rindex(b"IEND") - 8])
    with pytest.raises(ValueError, match="length mismatch"):
        png._deinterlace_adam7(raw[:-1], 10, 10, 8, 3)
    with pytest.raises(ValueError, match="length mismatch"):
        png._deinterlace_adam7(raw + b"\x00", 10, 10, 8, 3)


def test_adam7_hypothesis_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    @settings(max_examples=30, deadline=None)
    @given(
        arr=arrays(np.uint8, st.tuples(st.integers(1, 12), st.integers(1, 12),
                                       st.just(3))),
        ft=st.integers(0, 4),
    )
    def check(arr, ft):
        data = png.encode_png(arr, filter_type=ft, interlace=True)
        assert np.array_equal(png.decode_png(data), arr)

    check()


# ------------------------------- full depth range (round 8)


@pytest.mark.parametrize("depth", [1, 2, 4])
@pytest.mark.parametrize("interlace", [False, True])
def test_subbyte_gray_roundtrip(depth, interlace):
    rng = np.random.default_rng(depth)
    g = rng.integers(0, 1 << depth, (11, 13)).astype(np.uint8)
    data = png.encode_png_ex(g, depth=depth, ctype=0, interlace=interlace)
    out = png.decode_png(data)
    scaled = (g.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(
        np.uint8
    )
    assert np.array_equal(out[:, :, 0], scaled)
    assert np.array_equal(out[:, :, 1], scaled)


@pytest.mark.parametrize("depth", [1, 2, 4, 8])
def test_subbyte_palette_roundtrip(depth):
    rng = np.random.default_rng(depth + 10)
    n = 1 << depth
    plte = rng.integers(0, 256, (n, 3)).astype(np.uint8)
    idx = rng.integers(0, n, (7, 9)).astype(np.uint8)
    data = png.encode_png_ex(idx, depth=depth, ctype=3, plte=plte)
    assert np.array_equal(png.decode_png(data), plte[idx])


@pytest.mark.parametrize("ctype,channels", [(0, 1), (2, 3), (4, 2), (6, 4)])
@pytest.mark.parametrize("interlace", [False, True])
def test_16bit_roundtrip_top_byte(ctype, channels, interlace):
    rng = np.random.default_rng(ctype)
    s = rng.integers(0, 65536, (6, 5, channels)).astype(np.uint16)
    if channels == 1:
        data = png.encode_png_ex(
            s[:, :, 0], depth=16, ctype=ctype, interlace=interlace
        )
    else:
        data = png.encode_png_ex(
            s, depth=16, ctype=ctype, interlace=interlace
        )
    out = png.decode_png(data)
    top = (s >> 8).astype(np.uint8)
    if ctype == 0:
        assert np.array_equal(out[:, :, 0], top[:, :, 0])
    elif ctype == 2:
        assert np.array_equal(out, top)
    elif ctype == 4:
        assert np.array_equal(out[:, :, 0], top[:, :, 0])
    else:
        assert np.array_equal(out, top[:, :, :3])


def test_subbyte_filters_roundtrip():
    # sub-byte depths filter per byte (fbpp=1); every filter type
    # must invert
    rng = np.random.default_rng(42)
    g = rng.integers(0, 16, (9, 10)).astype(np.uint8)
    for ft in range(5):
        data = png.encode_png_ex(g, depth=4, ctype=0, filter_type=ft)
        out = png.decode_png(data)
        scaled = (g.astype(np.uint16) * 255 // 15).astype(np.uint8)
        assert np.array_equal(out[:, :, 0], scaled), ft


def test_invalid_depth_type_combinations_rejected():
    g = np.zeros((2, 2), dtype=np.uint8)
    with pytest.raises(ValueError, match="invalid for color type"):
        png.encode_png_ex(np.zeros((2, 2, 3), np.uint8), depth=4, ctype=2)
    with pytest.raises(ValueError, match="palette"):
        png.encode_png_ex(g, depth=4, ctype=3)  # no plte
    with pytest.raises(ValueError, match="16-bit palette"):
        png.encode_png_ex(g, depth=16, ctype=3)
    with pytest.raises(ValueError, match="out of range"):
        png.encode_png_ex(np.full((2, 2), 5, np.uint8), depth=2, ctype=0)


def test_palette_index_out_of_range_rejected_on_decode():
    plte = np.zeros((2, 3), dtype=np.uint8)
    idx = np.array([[0, 1], [1, 3]], dtype=np.uint8)  # 3 >= len(plte)
    data = png.encode_png_ex(
        idx, depth=8, ctype=3, plte=np.zeros((4, 3), np.uint8)
    )
    # shrink the PLTE chunk to 2 entries
    i = data.index(b"PLTE")
    bad = (data[: i - 4] + struct.pack(">I", 6) + b"PLTE"
           + plte.tobytes()
           + struct.pack(">I", zlib.crc32(b"PLTE" + plte.tobytes()))
           + data[i + 4 + 12 + 4:])
    with pytest.raises(ValueError, match="palette index"):
        png.decode_png(bad)
