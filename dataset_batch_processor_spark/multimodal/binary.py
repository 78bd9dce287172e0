"""Multimodal binary-column plumbing — decode / transform kernels.

Design: image/audio/video payloads are opaque ``binary`` columns with
typed metadata columns alongside. Every per-record kernel is a row
function run through ``per_record`` (Spark plumbing section): one
Arrow-batched ``mapInPandas`` with an explicit output schema, in which
a record that raises becomes one row with an ``error`` column (F7
quarantine) instead of failing the batch. The image kernels here,
the audio/video kernels in av.py, the dHash/pHash band kernels and
the header-metadata source all share it, so the Spark-side contract
(schema, batch shape, partitioning, quarantine) is real and tested
even where the actual codec is stubbed.

STUBS vs real: this container has numpy but no image codec libraries
(PIL/imageio/pillow-heif), so *decode* goes through a pluggable codec
registry. REAL pure-Python codecs (S3-S5/K1/P12 run end-to-end on
actual image bytes):

- ``png``  — full decode+encode (png.py, stdlib zlib);
- ``jpg``/``jpeg`` — baseline AND progressive (SOF2) DCT decode,
  baseline + progressive encode (jpeg.py, ITU-T T.81), the
  reference's default save format;
- ``webp`` — VP8L lossless decode+encode incl. animated first frame
  (webp.py); lossy VP8 stills decode through the pure-Python RFC
  6386 keyframe decoder (vp8.py, bit-exact vs libwebp);
- ``bmp``/``ppm`` — decode+encode (codecs_extra.py);
- ``gif``  — first-frame LZW decode (gif.py) = the reference's
  animated-first-frame semantics;
- ``tif``/``tiff``/``dng`` — uncompressed decode+encode (tiff.py);
- ``rawrgb`` — trivial deterministic container (12-byte header +
  raw uint8 HxWx3) used by tests and the synthetic pipeline;
- header-only dimension probes for PNG/JPEG/GIF (sources/images.py)
  which need no decoder at all.

Still stubbed (library-bound, NotImplementedError into quarantine,
mirroring /root/reference/modules/other_tasks.py:45-53,
batch_processor.py:346-357): HEIC/AVIF pixel decode — auto-wired to
pillow-heif/rawpy/imageio via optional_codecs.py when installed. The
whole camera-RAW family decodes pure-Python (rawvendor.py): lossless
CR2, packed AND Nikon-compressed (34713) NEF, uncompressed AND Sony
ARW2 block-compressed (32767) ARW; only the table-less 34713 edge
(no linearization table in the MakerNote) keeps a precise-reason
quarantine.

The pixel kernels themselves (crop G1, pad G2/G3, resize) are REAL
numpy code operating on decoded arrays — identical math to
tiling.py:12-18 — and run against rawrgb payloads in tests.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# ------------------------------------------------------------------ codecs

RAWRGB_MAGIC = b"RAW1"


def encode_rawrgb(arr: np.ndarray) -> bytes:
    """Deterministic toy container: magic + H + W + raw uint8 HxWx3."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    return RAWRGB_MAGIC + struct.pack(">II", h, w) + arr.tobytes()


def decode_rawrgb(content: bytes) -> np.ndarray:
    if content[:4] != RAWRGB_MAGIC:
        raise ValueError("not a rawrgb payload")
    h, w = struct.unpack(">II", content[4:12])
    return np.frombuffer(content[12:], dtype=np.uint8).reshape(h, w, 3)


def _missing_codec(fmt: str) -> Callable[[bytes], np.ndarray]:
    def decode(_content: bytes) -> np.ndarray:
        raise NotImplementedError(
            f"codec '{fmt}' requires an image library not present in this "
            "container (PIL/imageio/pillow-heif); register a decoder via "
            "register_codec() in a full deployment"
        )

    return decode


# S4 formats (RAW/HEIC) are registered so the dispatch path is
# exercised; their decoders are the documented stubs above.
# REAL pure-Python codecs (no third-party libs):
#   PNG  — full decode+encode (multimodal/png.py, stdlib zlib);
#   BMP  — full depth matrix decode (1/4/8-bit palette, 24/32 bpp,
#          core+info headers, RLE8/RLE4) + 24-bit encode
#          (codecs_extra.py);
#   PPM  — P6 decode any maxval 1..65535, encode maxval 255
#          (codecs_extra.py);
#   GIF  — first-frame LZW decode (gif.py), the reference's S5
#          animated-first-frame semantics.
from . import codecs_extra as _extra  # noqa: E402
from . import gif as _gif  # noqa: E402
from . import jpeg as _jpeg  # noqa: E402
from . import png as _png  # noqa: E402
from . import rawvendor as _rawvendor  # noqa: E402
from . import tiff as _tiff  # noqa: E402
from . import webp as _webp  # noqa: E402

CODECS: dict[str, Callable[[bytes], np.ndarray]] = {
    "rawrgb": decode_rawrgb,
    "png": _png.decode_png,
    "jpg": _jpeg.decode_jpeg,
    "jpeg": _jpeg.decode_jpeg,
    "bmp": _extra.decode_bmp,
    "ppm": _extra.decode_ppm,
    "gif": _gif.decode_gif,
    "tif": _tiff.decode_tiff,
    "tiff": _tiff.decode_tiff,
    # WebP: full VP8L (lossless) decode incl. animated first-frame;
    # lossy VP8 raises NotImplementedError with the reason.
    "webp": _webp.decode_webp,
    # DNG is a TIFF container: uncompressed DNGs decode via the plain
    # TIFF path and lossless-JPEG (Compression=7) DNGs through the
    # pure-Python T.81 SOF3 codec (multimodal/ljpeg.py) — no library
    # needed. Vendor-compressed variants still raise
    # NotImplementedError with the precise reason, and probe_tiff_dims
    # reads dims from ANY of the TIFF-based RAW family header-only.
    "dng": _tiff.decode_dng_display,
    # CR2/NEF: pure-Python container walk over the same SOF3 entropy
    # layer (multimodal/rawvendor.py) — sliced lossless-JPEG CR2,
    # packed 12/14/16-bit NEF, AND Nikon-compressed 34713 (MakerNote
    # Huffman trees + linearization walk) decode on a bare install;
    # only the table-less 34713 edge quarantines with its reason.
    # rawpy/imageio still auto-wire OVER these when installed.
    "cr2": _rawvendor.decode_cr2_display,
    "nef": _rawvendor.decode_nef_display,
    # ARW: Sony TIFF-EP over the same SubIFD walk — uncompressed
    # (Compression 1, 12/14/16-bit, multi-strip byte-aligned) AND
    # ARW2 block-compressed (32767, 16-byte/16-pixel max/min+delta
    # blocks) decode on a bare install; rawpy/imageio auto-wire OVER
    # these when present.
    "arw": _rawvendor.decode_arw_display,
    **{fmt: _missing_codec(fmt) for fmt in ("heic", "avif")},
}


def register_codec(fmt: str, decoder: Callable[[bytes], np.ndarray]) -> None:
    CODECS[fmt.lower()] = decoder


# Auto-wire optional public libraries (pillow-heif, rawpy, imageio)
# over the stubs when importable — the reference's process-wide
# pillow_heif.register_heif_opener() made automatic; a no-op in this
# container (optional_codecs.py docstring).
from . import optional_codecs as _opt  # noqa: E402

_opt.try_register_optional_codecs()


def _sniff_format(content: bytes) -> str | None:
    """Magic bytes -> registry key (the same robustness PIL gives the
    reference: content wins over the filename)."""
    if content[:4] == RAWRGB_MAGIC:
        return "rawrgb"
    if content[: len(_png.SIGNATURE)] == _png.SIGNATURE:
        return "png"
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if content[:2] == b"\xff\xd8":
        return "jpeg"
    if content[:2] == b"BM":
        return "bmp"
    if content[:2] == b"P6":
        return "ppm"
    if content[:4] == b"II*\x00" and content[8:10] == b"CR":
        return "cr2"  # Canon RAW 2: TIFF magic + CR marker at offset 8
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        return "webp"
    if content[4:8] == b"ftyp":  # ISOBMFF: HEIF/AVIF family
        brand = content[8:12]
        if brand in (b"avif", b"avis"):
            return "avif"
        if brand in (b"heic", b"heix", b"hevc", b"hevx", b"mif1", b"msf1"):
            return "heic"
    return None


# Extensions that are all TIFF containers under the same magic: the
# generic "tiff" sniff must NOT override one of these — the extension
# is the more specific claim (a .nef IS valid TIFF bytes, but the raw
# sensor lives behind SubIFDs the plain TIFF path never walks).
_TIFF_FAMILY = {"tif", "tiff", "dng", "nef", "cr2", "arw"}


def decode_any(fmt: str, content: bytes) -> np.ndarray:
    """Decode with content sniffing before extension dispatch. The
    sniff only picks the registry KEY — dispatch always goes through
    CODECS, so a codec installed via register_codec (e.g. a
    libjpeg-turbo binding that handles progressive JPEGs) overrides
    the built-in pure-Python decoders for sniffed content too."""
    key = _sniff_format(content) or fmt.lower()
    if key == "tiff" and fmt.lower() in _TIFF_FAMILY:
        key = fmt.lower()
    return CODECS[key](content)


# ------------------------------------------------------------- pixel kernels


def pad_extend_edges(arr: np.ndarray, tile_size: int) -> np.ndarray:
    """G2 'Extend Edges' (/root/reference/modules/tiling.py:12-18):
    replicate the last row/column out to tile_size × tile_size."""
    h, w = arr.shape[:2]
    pad_bottom, pad_right = max(0, tile_size - h), max(0, tile_size - w)
    if pad_bottom == 0 and pad_right == 0:
        return arr
    return np.pad(arr, ((0, pad_bottom), (0, pad_right), (0, 0)), mode="edge")


def pad_to_square(arr: np.ndarray, tile_size: int) -> np.ndarray:
    """G3 'Pad to Square' (/root/reference/modules/tiling.py:57-62):
    paste at (0,0) onto a black tile_size² canvas."""
    h, w = arr.shape[:2]
    canvas = np.zeros((tile_size, tile_size, arr.shape[2]), dtype=arr.dtype)
    canvas[: min(h, tile_size), : min(w, tile_size)] = arr[
        : min(h, tile_size), : min(w, tile_size)
    ]
    return canvas


def crop(arr: np.ndarray, left: int, top: int, right: int, bottom: int) -> np.ndarray:
    """The PIL ``im.crop(box)`` analogue (tiling.py:38-41 semantics)."""
    return arr[top:bottom, left:right]


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize — numpy-only (no codec lib needed)."""
    h, w = arr.shape[:2]
    rows = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    cols = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return arr[rows][:, cols]


# ------------------------------------------------------- Spark plumbing


def per_record(
    df: DataFrame,
    schema: StructType | str,
    fn: Callable[[Any], Any],
    *,
    head: Callable[[Any], dict] = lambda r: {"id": str(r.id)},
    many: bool = False,
) -> DataFrame:
    """The F7 quarantine kernel: one ``mapInPandas`` that calls
    ``fn(row)`` for every row of ``df`` (a pandas itertuples record).

    Each output row is every ``schema`` column set to None, then
    ``head(row)``, then the dict ``fn(row)`` returns; with ``many``,
    ``fn`` returns a list of such dicts (zero or more rows). An
    exception in ``fn`` gives exactly one row instead: the nulls,
    ``head(row)`` and ``error`` = ``"<ExcType>: <message>"``. A record
    yields either its rows or one error row, never a failed batch
    (``head`` runs outside the quarantine: it only reads the input
    row). Column names are parsed from ``schema`` once, here on the
    driver."""
    columns = (StructType.fromDDL(schema) if isinstance(schema, str)
               else schema).names
    nulls = dict.fromkeys(columns)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for r in pdf.itertuples(index=False):
                base = nulls | head(r)
                try:
                    if many:
                        out.extend([base | rec for rec in fn(r)])
                    else:
                        out.append(base | fn(r))
                except Exception as e:
                    out.append(base | {"error": f"{type(e).__name__}: {e}"})
            yield pd.DataFrame(out, columns=columns)

    return df.mapInPandas(run, schema=schema)


DECODE_META_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", IntegerType()),
        StructField("error", StringType()),
    ]
)


def decode_metadata(binary_df: DataFrame, id_col: str = "id",
                    fmt_col: str = "fmt", content_col: str = "content") -> DataFrame:
    """Decode each payload via the codec registry and emit typed
    metadata. Errors (including NotImplementedError from stub codecs)
    are captured per row (F7 quarantine semantics), never fatal."""

    def row(r) -> dict:
        arr = decode_any(r[1], bytes(r[2]))
        return {"width": int(arr.shape[1]), "height": int(arr.shape[0])}

    return per_record(
        binary_df.select(id_col, fmt_col, content_col), DECODE_META_SCHEMA,
        row, head=lambda r: {"id": str(r[0]), "fmt": r[1], "n_bytes": len(r[2])},
    )


TILE_PIXELS_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("i", IntegerType()),
        StructField("j", IntegerType()),
        StructField("tile_w", IntegerType()),
        StructField("tile_h", IntegerType()),
        StructField("content", BinaryType()),
        StructField("error", StringType()),
    ]
)


def materialize_tiles(tiles_with_content: DataFrame, tile_size: int,
                      pad_option: str = "None") -> DataFrame:
    """Stage (b) of the tiling operator: actually crop (and pad) the
    pixel tiles that operators/tiling.py computed geometry for.

    Input columns: id, content, fmt, i, j, box_left/top/right/bottom.
    Skew: the input is repartitioned on (id, j) BEFORE the decode
    kernel, so one giant image's tile rows spread across tasks instead
    of pinning the task that read the file (plan-asserted in
    tests/test_png.py).
    """
    # Tile rows of one image share ONE decode (the per-row decode
    # re-decoded the source image once per tile); capped so a task
    # over many large images cannot hold every decoded array at once.
    dec: dict = {}

    def row(r) -> dict:
        key = (r.id, r.fmt)
        arr = dec.get(key)
        if arr is None:
            arr = decode_any(r.fmt, bytes(r.content))
            if len(dec) >= 64:
                dec.clear()
            dec[key] = arr
        t = crop(arr, r.box_left, r.box_top, r.box_right, r.box_bottom)
        if pad_option == "Extend Edges":
            t = pad_extend_edges(t, tile_size)
        elif pad_option == "Pad to Square":
            t = pad_to_square(t, tile_size)
        t = np.ascontiguousarray(t)
        return {"tile_w": int(t.shape[1]), "tile_h": int(t.shape[0]),
                "content": encode_rawrgb(t)}

    return per_record(
        tiles_with_content.repartition(F.col("id"), F.col("j")),
        TILE_PIXELS_SCHEMA, row,
        head=lambda r: {"id": str(r.id), "i": int(r.i), "j": int(r.j)},
    )


# ----------------------------------------------------------- conversion

ENCODERS: dict[str, Callable[[np.ndarray], bytes]] = {
    "rawrgb": encode_rawrgb,
    "png": _png.encode_png,
    "jpg": _jpeg.encode_jpeg,
    "jpeg": _jpeg.encode_jpeg,
    "bmp": _extra.encode_bmp,
    "ppm": _extra.encode_ppm,
    "tif": _tiff.encode_tiff,
    "tiff": _tiff.encode_tiff,
    "webp": _webp.encode_webp,
}


def register_encoder(fmt: str, encoder: Callable[[np.ndarray], bytes]) -> None:
    ENCODERS[fmt.lower()] = encoder


CONVERT_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("src_fmt", StringType()),
        StructField("dst_fmt", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("content", BinaryType()),
        StructField("error", StringType()),
    ]
)


def convert_batch(binary_df: DataFrame, target_fmt: str) -> DataFrame:
    """Format conversion (other_tasks.py:29-67 semantics): decode by
    source format, re-encode to ``target_fmt``. Stub codecs and
    corrupt payloads are quarantined per row (F7), never fatal. A
    real deployment registers PIL/imageio codecs via register_codec/
    register_encoder; the plumbing below is identical either way."""
    tf = target_fmt.lower()

    def row(r) -> dict:
        arr = decode_any(r.fmt, bytes(r.content))
        if tf not in ENCODERS:
            raise NotImplementedError(
                f"encoder '{tf}' not registered in this environment"
            )
        return {"width": int(arr.shape[1]), "height": int(arr.shape[0]),
                "content": ENCODERS[tf](np.ascontiguousarray(arr))}

    return per_record(
        binary_df, CONVERT_SCHEMA, row,
        head=lambda r: {"id": str(r.id), "src_fmt": r.fmt, "dst_fmt": tf},
    )


def patchify_rgb(arr: np.ndarray, patch: int) -> np.ndarray:
    """(H, W, C) -> (H//patch, W//patch, patch, patch, C) ViT-style
    non-overlapping patch grid (Dosovitskiy et al. 2021 input
    pipeline). Dimensions must divide exactly — callers pad or resize
    first (pad_extend_edges / resize_nearest are the house tools);
    raising keeps a silent crop out of a training pipeline."""
    if arr.ndim != 3:
        raise ValueError(f"patchify_rgb expects (H, W, C), got {arr.shape}")
    h, w, c = arr.shape
    if h % patch or w % patch:
        raise ValueError(
            f"image {h}x{w} not divisible by patch {patch}; pad first"
        )
    return (
        arr.reshape(h // patch, patch, w // patch, patch, c)
        .transpose(0, 2, 1, 3, 4)
    )


def augment_views(arr: np.ndarray) -> dict[str, np.ndarray]:
    """The standard spatial augmentation set (training-time views):
    horizontal/vertical flip, 90-degree CCW rotation, and a centered
    half-crop. All pure index remapping — bit-exact, zero resampling
    — so each view is hash-gateable in closed form."""
    if arr.ndim != 3:
        raise ValueError(f"augment_views expects (H, W, C), got {arr.shape}")
    h, w = arr.shape[:2]
    return {
        "hflip": arr[:, ::-1],
        "vflip": arr[::-1],
        "rot90": np.rot90(arr),
        "crop": arr[h // 4: h // 4 + h // 2, w // 4: w // 4 + w // 2],
    }

