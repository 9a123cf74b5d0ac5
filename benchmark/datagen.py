"""Inputs of the benchmark workloads.

- ``tables``: the driver's deterministic synthetic testdata at scale factor
  0.01 (TESTDATA.md: a TPC-H-like star schema plus ``events``, ``documents``
  and ``embeddings``), shipped read-only under ``testdata/sf0.01``. The
  declared queries read these files unchanged.
- ``tiles``: float32 GeoTIFF tiles for the paper's own program: deflate
  compression, floating-point predictor (3), 256x256 internal tiles, a
  declared GDAL nodata value, a share of NaN pixels and one all-NaN tile.
  Pixel values are drawn, with a seeded generator, from ``events.value`` of
  that testdata; the same seed gives the same bytes. Tiles are cached under
  the benchmark's work directory, keyed by seed, shape and a hash of this
  file and of the source values, so a changed generator never reuses stale
  tiles.

The tile writer is the benchmark's own, independent of the program's
decoder, so the raster output check compares two implementations.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
import zlib

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES_DIR = os.path.join(HERE, "testdata", "sf0.01")

NODATA = -9999.0
NAN_SHARE = 0.05
NODATA_SHARE = 0.02
TIFF_TILE = 256


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream)."""
    key = zlib.crc32(stream.encode())
    return np.random.Generator(np.random.PCG64([seed & 0xFFFFFFFF, key]))


def file_hash(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def event_values(tables_dir: str = TABLES_DIR) -> np.ndarray:
    """``events.value`` of the testdata, the population tile pixels are
    drawn from."""
    col = pq.read_table(os.path.join(tables_dir, "events.parquet"),
                        columns=["value"]).column(0)
    return col.to_numpy(zero_copy_only=False).astype(np.float64)


def tables_info(tables_dir: str = TABLES_DIR) -> dict:
    """Row and byte counts of the shipped tables, and a hash of their bytes
    (the key of the cached expected results)."""
    files = sorted(f for f in os.listdir(tables_dir) if f.endswith(".parquet"))
    paths = [os.path.join(tables_dir, f) for f in files]
    return {
        "kind": "tables", "dir": os.path.relpath(tables_dir, HERE),
        "rows": {f[:-8]: pq.read_metadata(p).num_rows for f, p in zip(files, paths)},
        "bytes": sum(os.path.getsize(p) for p in paths),
        "hash": file_hash(*paths),
    }


# ---------------------------------------------------------------------------
# GeoTIFF tiles
# ---------------------------------------------------------------------------


def _predict_float(tile: np.ndarray) -> bytes:
    """TIFF predictor 3: per row, big-endian byte planes (all MSBs first),
    then byte-wise horizontal differencing."""
    rows, cols = tile.shape
    planes = (
        tile.astype(">f4").view(np.uint8).reshape(rows, cols, 4)
        .transpose(0, 2, 1).reshape(rows, cols * 4)
    )
    d = planes.copy()
    d[:, 1:] = planes[:, 1:] - planes[:, :-1]  # uint8 arithmetic wraps
    return d.tobytes()


def encode_tiled_float32(img: np.ndarray, nodata: float) -> bytes:
    """Little-endian tiled GeoTIFF: float32, deflate, predictor 3."""
    h, w = img.shape
    t = TIFF_TILE
    chunks = []
    for y in range(0, h, t):
        for x in range(0, w, t):
            tile = np.full((t, t), np.nan, np.float32)
            part = img[y:y + t, x:x + t]
            tile[:part.shape[0], :part.shape[1]] = part
            chunks.append(zlib.compress(_predict_float(tile), 6))
    nd = repr(float(nodata)).encode() + b"\x00"
    # tag, type, values; types: 3 SHORT, 4 LONG, 2 ASCII, 12 DOUBLE
    n_tiles = len(chunks)
    entries = [
        (256, 4, [w]), (257, 4, [h]), (258, 3, [32]), (259, 3, [8]),
        (262, 3, [1]), (277, 3, [1]), (284, 3, [1]), (317, 3, [3]),
        (322, 3, [t]), (323, 3, [t]), (324, 4, None), (325, 4, None),
        (339, 3, [3]), (33550, 12, [1.0, 1.0, 0.0]),
        (33922, 12, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0]), (42113, 2, nd),
    ]
    ifd_off = 8
    ifd_size = 2 + 12 * len(entries) + 4
    extra = ifd_off + ifd_size
    blobs: list[bytes] = []

    def payload(ftype, vals):
        if ftype == 2:
            return vals
        fmt = {3: "H", 4: "I", 12: "d"}[ftype]
        return struct.pack(f"<{len(vals)}{fmt}", *vals)

    offsets_pos = extra
    extra += 4 * n_tiles + 4 * n_tiles  # tile offsets + byte counts arrays
    data_start = None
    ifd = bytearray(struct.pack("<H", len(entries)))
    for tag, ftype, vals in entries:
        if tag == 324:
            ifd += struct.pack("<HHII", tag, 4, n_tiles, offsets_pos)
            continue
        if tag == 325:
            ifd += struct.pack("<HHII", tag, 4, n_tiles, offsets_pos + 4 * n_tiles)
            continue
        p = payload(ftype, vals)
        count = len(vals)
        if len(p) <= 4:
            ifd += struct.pack("<HHI", tag, ftype, count) + p.ljust(4, b"\x00")
        else:
            ifd += struct.pack("<HHII", tag, ftype, count, extra)
            blobs.append(p)
            extra += len(p)
    ifd += struct.pack("<I", 0)
    data_start = extra
    offs, pos = [], data_start
    for c in chunks:
        offs.append(pos)
        pos += len(c)
    return b"".join([
        b"II*\x00" + struct.pack("<I", ifd_off), bytes(ifd),
        struct.pack(f"<{n_tiles}I", *offs),
        struct.pack(f"<{n_tiles}I", *[len(c) for c in chunks]),
        *blobs, *chunks,
    ])


def make_tiles(seed: int, n_tiles: int, size: int,
               values: np.ndarray | None = None) -> list[np.ndarray]:
    """Float32 pixel grids drawn from ``values`` (default: the testdata's
    ``events.value``); the last grid is entirely NaN."""
    if values is None:
        values = event_values()
    r = _rng(seed, "tiles")
    out = []
    for i in range(n_tiles):
        if i == n_tiles - 1:
            out.append(np.full((size, size), np.nan, np.float32))
            continue
        px = r.choice(values, size * size).astype(np.float32)
        u = r.random(size * size)
        px[u < NAN_SHARE] = np.nan
        px[(u >= NAN_SHARE) & (u < NAN_SHARE + NODATA_SHARE)] = NODATA
        out.append(px.reshape(size, size))
    return out


# ---------------------------------------------------------------------------
# Cache
# ---------------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def _cached(path: str, build) -> dict:
    """Build ``path`` once; ``manifest.json`` marks a complete build."""
    marker = os.path.join(path, "manifest.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = build(tmp)
    info["bytes"] = _dir_bytes(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return info


def tiles_dataset(root: str, seed: int, n_tiles: int, size: int) -> tuple[str, dict]:
    """GeoTIFF tiles for ``seed``; the manifest carries the valid-pixel
    range and exact reference histogram counts (256 bins)."""
    events = os.path.join(TABLES_DIR, "events.parquet")
    key = file_hash(os.path.abspath(__file__), events)
    path = os.path.join(root, f"tiles-{n_tiles}x{size}-seed{seed}-{key}")

    def build(tmp):
        grids = make_tiles(seed, n_tiles, size)
        tif_dir = os.path.join(tmp, "tif")
        os.makedirs(tif_dir)
        for i, g in enumerate(grids):
            with open(os.path.join(tif_dir, f"tile_{i:03d}.tif"), "wb") as f:
                f.write(encode_tiled_float32(g, NODATA))
        px = np.concatenate([g.ravel() for g in grids])
        valid = px[~np.isnan(px) & (px != np.float32(NODATA))].astype(np.float64)
        lo, hi = float(valid.min()), float(valid.max())
        counts, _ = np.histogram(valid, bins=256, range=(lo, hi))
        return {
            "kind": "tiles", "seed": seed, "tiles": n_tiles, "size": size,
            "pixels": int(px.size), "valid_pixels": int(valid.size),
            "min": lo, "max": hi, "counts": [int(c) for c in counts],
            "tif_bytes": _dir_bytes(tif_dir),
        }

    return path, _cached(path, build)
