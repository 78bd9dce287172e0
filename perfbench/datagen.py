"""Seeded inputs for the benchmark.

Two generators, both pure functions of ``seed``:

- ``write_tables(out_dir, seed, sf)``: the ten fixture tables the
  registered queries read (``region`` ... ``embeddings``), with the
  schemas and value distributions of the repository's sf fixtures
  (FIXTURES.md / TESTDATA.md) at scale factor ``sf``.
- ``write_curation_folder(out_dir, seed)``: a reference-style image
  folder for the ``pipeline`` workflows: PNG/JPEG/rawrgb images of
  mixed sizes (several tiles each at the program's default tile size,
  some smaller than a tile, some corrupt) and ``.txt`` caption
  sidecars for most of them. It returns a manifest of what was
  written, which the expected-output checks use instead of reading the
  program's results back.

PNG files are written by the minimal encoder below, not by the
program's codec, so the decode path is checked against bytes the
program did not produce. JPEG inputs use the program's baseline
encoder: there is no other JPEG writer in the toolchain.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Tile parameters of the curation workflows: the program's TileSpec
# defaults (the reference UI's), step = 1024 - 512 = 512.
TILE, OVERLAP = 1024, 0.5


def _dates(rng, n, start, days):
    base = np.datetime64(start, "us")
    off = rng.integers(0, days, n).astype("timedelta64[D]")
    return base + off


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the fixture tables as ``<out_dir>/<name>.parquet``;
    returns the row count per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    cust_keys = np.arange(n_cust, dtype=np.int64)
    part_keys = np.arange(n_part, dtype=np.int64)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": cust_keys,
            "c_name": [f"Customer#{k:09d}" for k in cust_keys],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": part_keys,
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part),
                                rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (part_keys % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _dates(rng, n_li, "1995-01-02", 2498),
        }),
    }
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": money(0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(VOCAB)
    texts = [
        " ".join(words[rng.integers(0, len(VOCAB), n)])
        for n in rng.integers(10, 100, n_docs)
    ]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ------------------------------------------------------------ images

def encode_png_rgb(arr: np.ndarray) -> bytes:
    """8-bit RGB PNG, filter 0 on every row, one IDAT chunk."""
    h, w, _ = arr.shape

    def chunk(tag: bytes, payload: bytes) -> bytes:
        body = tag + payload
        return (struct.pack(">I", len(payload)) + body
                + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))

    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b""))


def encode_rawrgb_container(arr: np.ndarray) -> bytes:
    """The program's rawrgb container: b'RAW1' + >II (h, w) + pixels."""
    h, w, _ = arr.shape
    return b"RAW1" + struct.pack(">II", h, w) + arr.tobytes()


# (format, width, height) of every generated image, the same for every
# seed so the work per pass does not depend on it. At TILE=1024 / step
# 512: 4, 2 and 1 tiles, then PNGs smaller than a tile. JPEGs stay
# small: the program's JPEG decoder took 0.46 s for a 128 px image and
# 6.0 s for a 256 px one (4-core x86 host), so a tile-sized JPEG would
# not fit the per-run budget. rawrgb files are not scanned by the
# folder workflows; the codecs item decodes them.
_IMAGES = [
    ("png", 1024, 1024), ("png", 1100, 700), ("png", 600, 520),
    ("png", 480, 320), ("png", 64, 64),
    ("jpg", 96, 64), ("jpg", 64, 48), ("jpg", 45, 45),
    ("rawrgb", 1024, 768),
]
_CAPTION_WORDS = "a photo of the red small cold bolt gear on table".split()


def _pixels(rng, w, h):
    # smooth gradient + noise: compressible like a photo, not constant
    y, x = np.mgrid[0:h, 0:w]
    base = np.stack([x * 3, y * 5, (x + y) * 2], axis=-1)
    noise = rng.integers(0, 32, (h, w, 3))
    return ((base + noise) % 256).astype(np.uint8)


def write_curation_folder(out_dir: str, seed: int) -> dict:
    """Write ``images/`` under ``out_dir``; return the manifest."""
    from dataset_batch_processor_spark.multimodal import jpeg

    rng = np.random.default_rng([seed, 2])
    img_dir = os.path.join(out_dir, "images")
    os.makedirs(img_dir, exist_ok=True)
    images: list[dict] = []
    for k, (fmt, w, h) in enumerate(_IMAGES):
        arr = _pixels(rng, w, h)
        name = f"img_{k:03d}"
        if fmt == "png":
            data = encode_png_rgb(arr)
        elif fmt == "jpg":
            data = jpeg.encode_jpeg(arr, 85)
        else:
            data = encode_rawrgb_container(arr)
        with open(os.path.join(img_dir, f"{name}.{fmt}"), "wb") as fh:
            fh.write(data)
        caption = None
        if fmt != "rawrgb" and k % 3 != 2:
            caption = " ".join(rng.choice(_CAPTION_WORDS, 4))
            with open(os.path.join(img_dir, f"{name}.txt"), "w") as fh:
                fh.write(caption + "\n")
        images.append({"name": name, "fmt": fmt, "width": w, "height": h,
                       "corrupt": False, "caption": caption})
    corrupt = {
        "img_bad_000.png": b"\x89PNG\r\n\x1a\nGARBAGE",
        "img_bad_001.jpg": b"\xff\xd8\xff\xe0\x00\x10JFIF",
    }
    for fname, data in corrupt.items():
        with open(os.path.join(img_dir, fname), "wb") as fh:
            fh.write(data)
        stem, _, fmt = fname.rpartition(".")
        images.append({"name": stem, "fmt": fmt, "width": None,
                       "height": None, "corrupt": True, "caption": None})

    return {"tile": TILE, "overlap": OVERLAP, "images": images}
