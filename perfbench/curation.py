"""The curation workflow items and their independent expected outputs.

Each step calls one public workflow of ``dataset_batch_processor_spark
.pipeline`` (or the ``multimodal.binary`` codecs, in-process) on the
seed-generated image folder and writes under the pass's own output
directory. ``check_step`` recomputes what the step must have produced
from the generator's manifest and the input bytes alone: PNG files are
decoded here with zlib (the generator writes filter-0 scanlines) and
rawrgb containers are parsed directly, so the program's codecs are not
used to check themselves.
"""

from __future__ import annotations

import glob
import os
import struct
import time
import zipfile
import zlib

import numpy as np


def step_fn(step: str, spark, cur_dir: str, codec_times: dict):
    """callable(pass_dir) -> the workflow's result for ``step``."""
    from dataset_batch_processor_spark import pipeline
    from dataset_batch_processor_spark.operators.tiling import TileSpec

    from datagen import OVERLAP, TILE

    images = os.path.join(cur_dir, "images")
    spec = TileSpec(tile_size=TILE, overlap_ratio=OVERLAP, padding=0)
    calls = {
        "tile_folder": lambda out: pipeline.tile_folder(
            spark, images, out, spec, export_sidecars=True, make_zip=True,
            use_sidecar_captions=True),
        "convert_images": lambda out: pipeline.convert_images(
            spark, images, out, "rawrgb"),
        "codecs": lambda out: run_codecs(images, codec_times),
    }
    fn = calls[step]

    def run(pass_dir: str):
        out = os.path.join(pass_dir, step)
        os.makedirs(out, exist_ok=True)
        return fn(out)

    return run


CODEC_TARGETS = ("rawrgb", "png", "jpg", "bmp", "tif")
JPEG_MAX_PX = 128 * 128  # larger images skip the JPEG encoder (datagen)


def run_codecs(images: str, codec_times: dict) -> dict:
    """Decode every generated image with ``binary.decode_any`` and
    re-encode it with each target encoder, in this process; the JPEG
    encoder only gets the images of at most ``JPEG_MAX_PX`` pixels."""
    from dataset_batch_processor_spark.multimodal import binary

    decoded = {}
    for path in sorted(glob.glob(os.path.join(images, "img_[0-9]*.*"))):
        fmt = path.rsplit(".", 1)[1]
        if fmt == "txt":
            continue
        with open(path, "rb") as fh:
            data = fh.read()
        t0 = time.perf_counter()
        arr = binary.decode_any(fmt, data)
        codec_times["decode_s"] += time.perf_counter() - t0
        decoded[os.path.basename(path)] = arr
    encoded = {}
    for name, arr in decoded.items():
        for target in CODEC_TARGETS:
            if target == "jpg" and arr.shape[0] * arr.shape[1] > JPEG_MAX_PX:
                continue
            t0 = time.perf_counter()
            encoded[(name, target)] = binary.ENCODERS[target](arr)
            codec_times["encode_s"] += time.perf_counter() - t0
    return {"decoded": decoded, "encoded": encoded}


# ---------------------------------------------------------------- checks

def read_png(path: str) -> np.ndarray:
    """Decode a PNG written by datagen.encode_png_rgb (RGB8, filter 0)."""
    with open(path, "rb") as fh:
        data = fh.read()
    pos, idat, w, h = 8, b"", 0, 0
    while pos < len(data):
        n, tag = struct.unpack(">I4s", data[pos:pos + 8])
        body = data[pos + 8:pos + 8 + n]
        if tag == b"IHDR":
            w, h = struct.unpack(">II", body[:8])
        elif tag == b"IDAT":
            idat += body
        pos += 12 + n
    raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, 1 + 3 * w)
    return raw[:, 1:].reshape(h, w, 3)


def read_rawrgb(data: bytes) -> np.ndarray:
    h, w = struct.unpack(">II", data[4:12])
    return np.frombuffer(data[12:], np.uint8).reshape(h, w, 3)


def _source(images: str, img: dict) -> np.ndarray | None:
    path = os.path.join(images, f"{img['name']}.{img['fmt']}")
    if img["fmt"] == "png":
        return read_png(path)
    if img["fmt"] == "rawrgb":
        with open(path, "rb") as fh:
            return read_rawrgb(fh.read())
    return None  # lossy source: dimensions only


def check_step(step: str, pass_dir: str, man: dict, result) -> str | None:
    """Why ``step``'s output in ``pass_dir`` is wrong, or None."""
    out = os.path.join(pass_dir, step)
    tile = man["tile"]
    step_px = tile - int(man["overlap"] * tile)
    images_dir = os.path.join(man["cur_dir"], "images")
    scanned = [i for i in man["images"] if i["fmt"] in ("png", "jpg")]
    valid = [i for i in scanned if not i["corrupt"]]
    if step == "tile_folder":
        return _check_tiles(out, man, valid, images_dir, tile, step_px,
                            result)
    if step == "convert_images":
        want = {"converted": len(valid), "failed": len(scanned) - len(valid)}
        if result.metrics != want:
            return f"metrics {result.metrics} != {want}"
        rows = {os.path.basename(r["id"]).rsplit(".", 1)[0]: r
                for r in result.output.collect()}
        for img in valid:
            src = _source(images_dir, img)
            r = rows[img["name"]]
            if (r["width"], r["height"]) != (img["width"], img["height"]):
                return f"{img['name']}: dims {r['width']}x{r['height']}"
            if src is not None and not np.array_equal(
                    read_rawrgb(bytes(r["content"])), src):
                return f"{img['name']}: converted pixels differ"
        return None
    if step == "codecs":
        return _check_codecs(man, images_dir, result)
    return f"no check for {step}"


def _check_tiles(out, man, valid, images_dir, tile, step_px, result):
    want_tiles, want_captioned = 0, 0
    boxes = {}
    for img in valid:
        w, h = img["width"], img["height"]
        nh, nv = max(0, w // step_px), max(0, h // step_px)
        want_tiles += nh * nv
        if img["caption"] is not None:
            want_captioned += nh * nv
        for j in range(nv):
            for i in range(nh):
                left, top = i * step_px, j * step_px
                boxes[(img["name"], i, j)] = (
                    left, top, min(left + tile, w), min(top + tile, h))
    m = result.metrics
    if (m["tiles"], m["failed"], m.get("sidecars")) != (
            want_tiles, 0, want_captioned):
        return (f"tiles/failed/sidecars {m['tiles']}/{m['failed']}/"
                f"{m.get('sidecars')} != {want_tiles}/0/{want_captioned}")
    n_side = len(glob.glob(os.path.join(out, "sidecars", "*.txt")))
    if n_side != want_captioned:
        return f"{n_side} sidecar files != {want_captioned}"
    with zipfile.ZipFile(m["zip"]) as zf:
        names = zf.namelist()
    if not any(n.startswith("tiles/") for n in names) or \
            sum(n.startswith("sidecars/") for n in names) != want_captioned:
        return "zip does not hold the tiles and sidecars"
    srcs = {img["name"]: _source(images_dir, img) for img in valid}
    for r in result.output.select("id", "i", "j", "content").collect():
        name = os.path.basename(r["id"]).rsplit(".", 1)[0]
        src = srcs[name]
        if src is None:
            continue
        left, top, right, bottom = boxes[(name, r["i"], r["j"])]
        if not np.array_equal(read_rawrgb(bytes(r["content"])),
                              src[top:bottom, left:right]):
            return f"tile {name} ({r['i']},{r['j']}) pixels differ"
    return None


def _check_codecs(man, images_dir, result):
    from dataset_batch_processor_spark.multimodal import binary

    for img in man["images"]:
        if img["corrupt"]:
            continue
        fname = f"{img['name']}.{img['fmt']}"
        arr = result["decoded"][fname]
        if arr.shape != (img["height"], img["width"], 3):
            return f"{fname}: decoded shape {arr.shape}"
        src = _source(images_dir, img)
        if src is not None and not np.array_equal(arr, src):
            return f"{fname}: decoded pixels differ"
        raw = result["encoded"][(fname, "rawrgb")]
        if not np.array_equal(read_rawrgb(raw), arr):
            return f"{fname}: rawrgb encoding differs"
        for target in ("png", "bmp", "tif"):  # lossless round trips
            back = binary.decode_any(target, result["encoded"][(fname, target)])
            if not np.array_equal(back, arr):
                return f"{fname}: {target} round trip differs"
    return None
