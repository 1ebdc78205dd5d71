"""Seeded fixture generator for the paper-pipeline benchmark.

One call writes a scene tree the pipeline reads from disk:

    <root>/S2/<scene>/<scene>.{B2,B3,B4,B8}.tif   HR bands (kept)
    <root>/S2/<scene>/<scene>.B11.tif             decoy band (filtered)
    <root>/L8/<scene>/<scene>.{B02,B03,B04,B05}.tif   LR bands (kept)
    <root>/L8/<scene>/<scene>.B06.tif                 decoy band (filtered)
    every band file also gets a ``.tif.aux.xml`` sidecar
    <root>/mask.parquet   the centerline mask (mask_id, height, width, pixels)

Bands are float32 GeoTIFFs written with the package's own encoder
(``tiffcodec.encode_gray``). Pixel values are uniform in [0.01, 1.0] with
contamination patches (zeros, -9999 nodata on LR, inf on HR) so the crop
quality gate rejects a share of candidates. Every scene date falls in
2023, so the golden week grid applies. The seed draws dates, names and
pixel values; patch positions and the mask are fixed per workload.

The generator returns the in-memory arrays too; the NumPy reference
(reference.py) works from those, not from the files, so a decode or crop
defect that changes which crops pass, where, their pixel values or their
band order shows up as a digest mismatch.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time
from dataclasses import dataclass

import numpy as np

S2_BANDS = ("B2", "B3", "B4", "B8")
HLS_BANDS = ("B02", "B03", "B04", "B05")
S2_DECOY = "B11"
HLS_DECOY = "B06"
HR_PX = 192
LR_PX = 64
TILE = "T32UNU"
# First Thursday-aligned bin of the golden week grid opens 2022-12-29;
# bin k opens seven days later per step.
_GRID_OPEN = dt.date(2022, 12, 29)


@dataclass(frozen=True)
class Workload:
    """Shape of one benchmark workload."""

    name: str
    weeks: int  # non-empty week bins, both sensors
    s2_per_week: int
    hls_per_week: int
    compression: str | None  # tiffcodec compression name
    tile: tuple[int, int] | None  # tiffcodec tile (w, h); None = one strip
    river_px: int  # centerline width; 1 = a 1-px sine line
    compat: bool  # CropConfig.compat
    hls_weeks: int | None = None  # HLS scenes in the first this-many weeks only; None = all


WORKLOADS = {
    w.name: w
    for w in (
        Workload("ingest-wide", 40, 2, 1, "deflate", (64, 64), 1, False, hls_weeks=2),
        Workload("crop-dense", 1, 4, 4, None, None, 2, True),
    )
}


@dataclass
class Fixture:
    """What the generator wrote, plus the arrays the reference needs."""

    s2_root: str
    hls_root: str
    mask_path: str
    s2: dict  # scene name -> float32 array (4, HR_PX, HR_PX)
    hls: dict  # scene name -> float32 array (4, LR_PX, LR_PX)
    mask: np.ndarray  # float64 (HR_PX, HR_PX), 1.0 on the centerline
    band_files: list  # paths of the kept band files (decoys excluded)
    gen_s: float


def _s2_name(day: dt.date, secs: int) -> str:
    hh, mm, ss = secs // 3600, secs // 60 % 60, secs % 60
    return f"{day:%Y%m%d}T{hh:02d}{mm:02d}{ss:02d}_N0509_{TILE}"


def _hls_name(day: dt.date, secs: int) -> str:
    hh, mm, ss = secs // 3600, secs // 60 % 60, secs % 60
    doy = day.timetuple().tm_yday
    return f"HLS.L30.{TILE}.{day.year}{doy:03d}T{hh:02d}{mm:02d}{ss:02d}.v2.0"


def _scene_days(rng: np.random.Generator, wl: Workload) -> list:
    """One acquisition day per (week, sensor, slot). Weeks are a seeded
    sorted choice of grid bins 1..52; days stay inside both the bin and
    2023."""
    weeks = np.sort(rng.choice(np.arange(1, 53), size=wl.weeks, replace=False))
    out = []
    for k in weeks:
        start = _GRID_OPEN + dt.timedelta(weeks=int(k))
        last = min(start + dt.timedelta(days=6), dt.date(2023, 12, 31))
        span = (last - start).days + 1
        out.append([start + dt.timedelta(days=int(d)) for d in rng.integers(0, span, 8)])
    return out


def _band_stack(
    values: np.random.Generator, layout: np.random.Generator, px: int, nodata: float
) -> np.ndarray:
    """Four bands, uniform in [0.01, 1.0] drawn from ``values``, with
    patches placed by ``layout``: per band three zero squares and one
    ``nodata`` square (inf on HR, -9999 on LR), side px/40 (at least 2)."""
    bands = values.uniform(0.01, 1.0, (4, px, px)).astype(np.float32)
    patch = max(px // 40, 2)
    for b in range(4):
        for r, c in layout.integers(0, px - patch, (3, 2)):
            bands[b, r : r + patch, c : c + patch] = 0.0
        r, c = layout.integers(0, px - patch, 2)
        bands[b, r : r + patch, c : c + patch] = nodata
    return bands


def _mask(rng: np.random.Generator, width_px: int) -> np.ndarray:
    """A sine centerline across the HR frame: one row per column for
    ``width_px == 1``, else a band ``width_px`` rows tall around it."""
    phase = rng.uniform(0, 2 * math.pi)
    period = rng.uniform(0.8, 1.2) * HR_PX
    amp = HR_PX / 3 - width_px / 2
    m = np.zeros((HR_PX, HR_PX), dtype=np.float64)
    for c in range(HR_PX):
        mid = HR_PX / 2 + amp * math.sin(2 * math.pi * c / period + phase)
        top = int(round(mid - width_px / 2))
        m[top : top + width_px, c] = 1.0
    return m


def _write_mask(path: str, mask: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "mask_id": pa.array([1], pa.int64()),
            "height": pa.array([mask.shape[0]], pa.int32()),
            "width": pa.array([mask.shape[1]], pa.int32()),
            "pixels": pa.array([mask.ravel()], pa.list_(pa.float64())),
        }
    )
    pq.write_table(table, path)


def generate(wl: Workload, seed: int, root: str) -> Fixture:
    """Write the workload's scene tree under ``root`` (which must not
    exist) and return what was written. Deterministic in (wl, seed)."""
    from sentinel_landsat_database_creation_spark.sources.tiffcodec import (
        encode_gray,
    )

    t0 = time.perf_counter()
    # The seed draws dates, names and pixel values. Patch positions and the
    # mask come from a generator fixed per workload: under greedy
    # suppression the as-built walk's early stop makes the crop count
    # swing by an order of magnitude with the quality layout, so a seeded
    # layout would turn crops_per_s into a measure of the seed.
    wl_index = sorted(WORKLOADS).index(wl.name)
    rng = np.random.default_rng([seed, wl_index])
    layout = np.random.default_rng([wl_index])
    s2_root = os.path.join(root, "S2")
    hls_root = os.path.join(root, "L8")
    s2, hls, band_files = {}, {}, []

    def write_scene(sensor_root, name, stack, bands, decoy):
        d = os.path.join(sensor_root, name)
        os.makedirs(d)
        layers = list(zip(bands, stack)) + [(decoy, stack[0][::-1])]
        for band, arr in layers:
            path = os.path.join(d, f"{name}.{band}.tif")
            data = encode_gray(
                arr.shape[0],
                arr.shape[1],
                arr.ravel(),
                compression=wl.compression,
                tile=wl.tile,
            )
            with open(path, "wb") as f:
                f.write(data)
            with open(path + ".aux.xml", "w") as f:
                f.write(f"<PAMDataset><Metadata><MDI key='BAND'>{band}</MDI>"
                        "</Metadata></PAMDataset>\n")
            if band != decoy:
                band_files.append(path)

    for week, days in enumerate(_scene_days(rng, wl)):
        secs = rng.choice(86400, size=8, replace=False)
        for i in range(wl.s2_per_week):
            name = _s2_name(days[i], int(secs[i]))
            s2[name] = _band_stack(rng, layout, HR_PX, np.inf)
            write_scene(s2_root, name, s2[name], S2_BANDS, S2_DECOY)
        hls_here = wl.hls_weeks is None or week < wl.hls_weeks
        for i in range(wl.hls_per_week if hls_here else 0):
            name = _hls_name(days[4 + i], int(secs[4 + i]))
            hls[name] = _band_stack(rng, layout, LR_PX, -9999.0)
            write_scene(hls_root, name, hls[name], HLS_BANDS, HLS_DECOY)

    mask = _mask(layout, wl.river_px)
    mask_path = os.path.join(root, "mask.parquet")
    _write_mask(mask_path, mask)
    return Fixture(
        s2_root=s2_root,
        hls_root=hls_root,
        mask_path=mask_path,
        s2=s2,
        hls=hls,
        mask=mask,
        band_files=band_files,
        gen_s=time.perf_counter() - t0,
    )
