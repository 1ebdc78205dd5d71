"""Stage 4 — the crop engine (reference E4, SURVEY.md §2 ops 13/14/20/26/
33/34/35/43/44).

The reference's ``little_pair`` walks a centerline mask sequentially,
slicing aligned HR/LR crops and filtering them by data-quality
percentages (data_pair/fct_data_extraction.py:29-157). Here the mask
side is set-based and every per-pair decision is one local NumPy pass —
no exchange ever carries a pixel:

  mask -> candidate centers (posexplode + bounds filter)     [op 35+13]
       -> one ``ctrs`` array per mask_id (broadcast)
       x scene pairs -> crop_pairs, ONE mapInArrow call per pair row:
            sort centers by ord (seeded shuffle if asked)
            quality counts from summed-area tables           [ops 14/26]
            greedy walk (compat) | grid-cell minimum (native) [ops 33/34]
            cut survivors with NumPy basic slicing            [ops 43/44/20]

Compat quirks reproduced exactly (flagged, never silently):
- bounds filter upper limits come from the COUNT of centerline points,
  not the raster dims (fct_data_extraction.py:62-64);
- the inf-percentage denominator mixes LR height with HR width
  (fct_data_extraction.py:133);
- greedy no_overlap uses a = r + batch*pct and b = c + batch*pct, and
  purges rows-in-[a,b] then cols-in-[a,b] in two passes over the
  mutating candidate list (fct_data_extraction.py:75-88,143-150); the
  walk advances one index per iteration over that mutating list and
  stops when the cursor passes the tail (:153-155).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._serde import register_self

register_self(__name__)

NODATA = -9999.0


def candidate_centers(
    mask: DataFrame, batch_size: int, compat_bounds: bool = True
) -> DataFrame:
    """Ops 35+13: centerline pixels == 1, bounds-filtered, in np.where
    row-major order (column ``ord`` preserves it for the greedy walk).

    compat_bounds=True reproduces the reference's as-built upper limits
    (count of centerline points, fct_data_extraction.py:62-64);
    False uses the geometrically-correct raster dims.
    """
    half = batch_size // 2
    pts = mask.select(
        "mask_id",
        "height",
        "width",
        F.posexplode("pixels").alias("p", "v"),
    ).filter(F.col("v") == 1)
    pts = pts.select(
        "mask_id",
        "height",
        "width",
        (F.col("p") / F.col("width")).cast("int").alias("r"),
        (F.col("p") % F.col("width")).cast("int").alias("c"),
        F.col("p").alias("ord"),
    )
    if compat_bounds:
        n_pts = pts.groupBy("mask_id").agg(F.count(F.lit(1)).alias("n_pts"))
        pts = pts.join(F.broadcast(n_pts), "mask_id")
        upper = F.col("n_pts") - 1 - half
        bounded = pts.filter(
            (F.col("r") > half)
            & (F.col("c") > half)
            & (F.col("r") < upper)
            & (F.col("c") < upper)
        ).drop("n_pts")
    else:
        bounded = pts.filter(
            (F.col("r") > half)
            & (F.col("c") > half)
            & (F.col("r") < F.col("height") - half)
            & (F.col("c") < F.col("width") - half)
        )
    return bounded.drop("height", "width")


# ---------------------------------------------------------------------------
# the per-pair NumPy kernel


def window_counts(ind: np.ndarray, r0: np.ndarray, c0: np.ndarray, size: int):
    """Per-corner count of the (H, W) integer grid ``ind`` over the
    ``size`` x ``size`` window at (r0, c0), truncated at the frame edge
    exactly like the NumPy slice ``ind[r0:r0+size, c0:c0+size]`` (corners
    must be >= 0). One summed-area table: O(H·W + K) for K corners."""
    h, w = ind.shape
    sat = np.zeros((h + 1, w + 1), np.int64)
    sat[1:, 1:] = ind.cumsum(axis=0, dtype=np.int64).cumsum(axis=1)
    r1, c1 = np.minimum(r0 + size, h), np.minimum(c0 + size, w)
    r0, c0 = np.minimum(r0, h), np.minimum(c0, w)
    return sat[r1, c1] - sat[r0, c1] - sat[r1, c0] + sat[r0, c0]


def candidate_flags(
    hr: np.ndarray,
    lr: np.ndarray,
    r: np.ndarray,
    c: np.ndarray,
    batch_size: int,
    scale: int,
    n_bands: int = 4,
    compat: bool = True,
) -> np.ndarray:
    """Op 14: the acceptance flag of every candidate center (r, c) over
    (bands, H, W) HR and LR stacks. Counts cover only the cells the
    edge-truncated crop holds; the denominators stay fixed at
    b*b*n / (b//s)^2*n, so a short edge crop fails as the reference's
    truncated NumPy crop does. compat=True reproduces the as-built inf
    denominator (LR height x HR width x n, fct_data_extraction.py:133);
    False uses the HR pixel count. Percentages are restated as exact
    integer comparisons (count*100 >= 99*denom), so no float drift."""
    b, s, half = batch_size, scale, batch_size // 2
    hr_px = b * b * n_bands
    lr_px = (b // s) * (b // s) * n_bands
    inf_denom = (b // s) * b * n_bands if compat else hr_px
    r0, c0 = r - half, c - half
    lr_r0, lr_c0 = r0 // s, c0 // s
    nz_hr = window_counts((hr != 0).sum(axis=0), r0, c0, b)
    inf_hr = window_counts(np.isinf(hr).sum(axis=0), r0, c0, b)
    nz_lr = window_counts((lr != 0).sum(axis=0), lr_r0, lr_c0, b // s)
    nine_lr = window_counts((lr == NODATA).sum(axis=0), lr_r0, lr_c0, b // s)
    return (
        (nz_hr * 100 >= 99 * hr_px)
        & (nz_lr * 100 >= 99 * lr_px)
        & (nine_lr * 100 <= lr_px)
        & (inf_hr * 100 <= inf_denom)
    )


def _greedy_walk(rows, batch_size: int, pct: float, overlap: bool):
    """Faithful reimplementation of the reference's mutating-list walk
    (fct_data_extraction.py:90-157): one cursor pass over the candidate
    list of (r, c, ok), purging row/col bands after each accepted crop."""
    r = [row[0] for row in rows]
    c = [row[1] for row in rows]
    ok = {(row[0], row[1]): row[2] for row in rows}
    kept = []
    i = -1
    while len(r) > 0:
        i += 1
        rr, cc = r[i], c[i]
        if ok[(rr, cc)]:
            kept.append((rr, cc))
            if overlap:
                a = rr + batch_size * pct
                b = cc + batch_size * pct
                keep = [not (a <= v <= b) for v in r]
                r = [v for v, k in zip(r, keep) if k]
                c = [v for v, k in zip(c, keep) if k]
                keep = [not (a <= v <= b) for v in c]
                r = [v for v, k in zip(r, keep) if k]
                c = [v for v, k in zip(c, keep) if k]
        if i >= len(r) - 1:
            break
    return kept


def grid_keep(r: np.ndarray, c: np.ndarray, stride: int) -> np.ndarray:
    """Native-mode op 33: indices of the minimum (r, c) in each
    stride x stride cell — order-free, the documented divergence from the
    sequential reference walk."""
    gr, gc = r // stride, c // stride
    o = np.lexsort((c, r, gc, gr))
    first = np.ones(len(o), bool)
    first[1:] = (gr[o][1:] != gr[o][:-1]) | (gc[o][1:] != gc[o][:-1])
    return o[first]


def cut_window(a: np.ndarray, r0: int, c0: int, size: int) -> np.ndarray:
    """Op 43: the ``size`` x ``size`` window at (r0, c0) of a (bands, H, W)
    stack by NumPy basic slicing — the reference's ``t[:, r1:r2, c1:c2]``
    (fct_data_extraction.py:115-124), short at the bottom/right edge."""
    return a[:, r0 : r0 + size, c0 : c0 + size]


def _stack(bands, width: int) -> np.ndarray:
    """One row's list<list<T>> band column as a (bands, H, W) view."""
    lens = bands.value_lengths().to_numpy(zero_copy_only=False)
    if not len(lens) or (lens != lens[0]).any() or lens[0] % width:
        raise ValueError(
            f"band lengths {lens.tolist()} are not equal whole {width}-px rows"
        )
    flat = bands.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(len(lens), -1, width)


def _nested(crops: list, typ):
    """Arrow list<list<typ>>: one outer entry per crop, one inner list per
    band holding that band's flattened (possibly edge-truncated) window."""
    import pyarrow as pa

    n_bands = crops[0].shape[0]
    inner = np.repeat([x[0].size for x in crops], n_bands)
    inner_off = np.zeros(len(inner) + 1, np.int32)
    np.cumsum(inner, out=inner_off[1:])
    values = pa.array(np.concatenate([x.ravel() for x in crops]), type=typ)
    outer_off = np.arange(len(crops) + 1, dtype=np.int32) * n_bands
    return pa.ListArray.from_arrays(
        pa.array(outer_off), pa.ListArray.from_arrays(pa.array(inner_off), values)
    )


def _survivors(hr, lr, r, c, pid, p: dict):
    """One pair's decision: quality flags, then the greedy walk (seeded
    shuffle first if asked) or the grid-cell minimum; returns the kept
    centers as (rows, cols)."""
    b, pct, seed = p["batch_size"], p["pct"], p["shuffle_seed"]
    ok = candidate_flags(
        hr, lr, r, c, b, p["scale"], p["n_bands"], p["compat_quality"]
    )
    if not p["greedy"]:
        keep = np.flatnonzero(ok)
        keep = keep[grid_keep(r[keep], c[keep], max(int(b * pct), 1))]
        return r[keep], c[keep]
    if seed is not None:
        o = np.random.RandomState((seed + pid) % 2**32).permutation(len(r))
        r, c, ok = r[o], c[o], ok[o]
    rows = zip(r.tolist(), c.tolist(), ok.tolist())
    kept = np.array(_greedy_walk(list(rows), b, pct, p["overlap"]), np.int64)
    kept = kept.reshape(-1, 2)
    return kept[:, 0], kept[:, 1]


def _crop_batches(batches, p: dict):
    """mapInArrow body: each input row is one pair with its mask's
    candidate centers; the output is that pair's surviving crops. Rows
    are decided and emitted one at a time, so the working set beyond the
    input batch is one pair's stacks and crops."""
    import pyarrow as pa

    b = p["batch_size"]
    half, lr_size = b // 2, b // p["scale"]
    for batch in batches:
        for i in range(batch.num_rows):
            row = batch.slice(i, 1)
            ctrs = row.column("ctrs").flatten()
            key = [ctrs.field(k).to_numpy() for k in ("ord", "r", "c")]
            if not len(key[0]):
                continue
            o = np.lexsort(key[::-1])
            r, c = key[1][o].astype(np.int64), key[2][o].astype(np.int64)
            pid = row.column("pair_id")
            hr_col, lr_col = row.column("hr_bands"), row.column("lr_bands")
            hr = _stack(hr_col.flatten(), row.column("hr_width")[0].as_py())
            lr = _stack(lr_col.flatten(), row.column("lr_width")[0].as_py())
            kr, kc = _survivors(hr, lr, r, c, pid[0].as_py(), p)
            n = len(kr)
            if not n:
                continue
            r0, c0 = kr - half, kc - half
            hr_crops = [cut_window(hr, y, x, b) for y, x in zip(r0, c0)]
            lr_crops = [
                cut_window(lr, y, x, lr_size)
                for y, x in zip(r0 // p["scale"], c0 // p["scale"])
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pid.take(np.zeros(n, np.int64)),
                    pa.array(kr.astype(np.int32)),
                    pa.array(kc.astype(np.int32)),
                    _nested(hr_crops, hr_col.type.value_type.value_type),
                    _nested(lr_crops, lr_col.type.value_type.value_type),
                    pa.array(np.full(n, b, np.int32)),
                    pa.array(np.full(n, lr_size, np.int32)),
                ],
                names=[
                    "pair_id",
                    "center_r",
                    "center_c",
                    "hr_pixels",
                    "lr_pixels",
                    "hr_size",
                    "lr_size",
                ],
            )


def crop_pairs(
    pairs: DataFrame,
    centers: DataFrame,
    batch_size: int,
    scale: int,
    pct: float,
    *,
    greedy: bool,
    compat_quality: bool = True,
    n_bands: int = 4,
    overlap: bool = True,
    shuffle_seed: int | None = None,
) -> DataFrame:
    """Ops 14/20/26/33/34/43/44 as ONE NumPy mapInArrow operator: for each
    scene pair, the quality-filtered, overlap-suppressed crops at
    ``centers``, with both pixel payloads.

    ``pairs`` carries one row per scene pair: (pair_id, hr_bands,
    hr_width, lr_bands, lr_width), bands as arrays of flattened row-major
    rasters. The scale precondition (hr_w // lr_w == scale, the
    reference's assert at :91) is a validation filter. ``centers`` carry
    (mask_id, ord, r, c) with r, c >= batch_size // 2 (candidate_centers
    guarantees it); they attach as ONE collected ``ctrs`` array per mask
    (broadcast, metadata-sized), keyed by the pair's ``mask_id`` when it
    has one — unkeyed, every pair meets the union of all masks' centers
    (the reference's single fixed mask, fct_data_extraction.py:50,61).

    Per pair, in one call: centers sorted by (ord, r, c), seeded-shuffled
    with ``shuffle_seed + pair_id`` when set (the
    fct_data_extraction_shuffle.py variant, made reproducible whatever
    order rows arrive in); the quality flag of every candidate
    (candidate_flags: four summed-area tables, so O(bands·H·W + K) for K
    centers at any crop size, with ``n_bands`` in the denominators and
    ``compat_quality`` choosing the inf denominator); then either the
    faithful greedy walk (``greedy``, _greedy_walk) or the grid-cell
    minimum (grid_keep, stride int(batch_size*pct)); and only the
    survivors are cut, by NumPy basic slicing (slice2d's edge semantics:
    rows past the bottom vanish, the right edge truncates).

    Returns (pair_id, center_r, center_c, hr_pixels, lr_pixels, hr_size,
    lr_size), pixel arrays in the input's element type. The band payload
    crosses into Python once per pair and only survivors come back; no
    exchange carries pixels. A repartition by pair_id before the kernel
    was measured slower (the cost is job floors, not per-pair compute)."""
    valid = pairs.filter(
        (F.col("hr_width") / F.col("lr_width")).cast("int") == scale
    )
    ctr = F.struct("ord", "r", "c")
    if "mask_id" in pairs.columns:
        packed = centers.groupBy("mask_id").agg(F.collect_list(ctr).alias("ctrs"))
        grid = valid.join(F.broadcast(packed), "mask_id")
    else:
        packed = centers.agg(F.collect_list(ctr).alias("ctrs"))
        grid = valid.crossJoin(F.broadcast(packed))

    def elem(col: str) -> str:
        return pairs.schema[col].dataType.elementType.elementType.simpleString()

    schema = (
        f"pair_id {pairs.schema['pair_id'].dataType.simpleString()}, "
        "center_r int, center_c int, "
        f"hr_pixels array<array<{elem('hr_bands')}>>, "
        f"lr_pixels array<array<{elem('lr_bands')}>>, "
        "hr_size int, lr_size int"
    )
    params = dict(
        batch_size=batch_size,
        scale=scale,
        pct=pct,
        greedy=greedy,
        compat_quality=compat_quality,
        n_bands=n_bands,
        overlap=overlap,
        shuffle_seed=shuffle_seed,
    )

    def crop_kernel(batches):
        return _crop_batches(batches, params)

    return grid.select(
        "pair_id", "hr_bands", "hr_width", "lr_bands", "lr_width", "ctrs"
    ).mapInArrow(crop_kernel, schema)


def suppress_overlap_grid(
    flagged: DataFrame, batch_size: int, pct: float
) -> DataFrame:
    """Native-mode op 33 as a relational operator over a (pair_id, r, c,
    ok) table: quality-passing centers bucket into stride-sized cells;
    the minimum (r, c) per cell survives. Set-based and deterministic —
    the same rule grid_keep applies inside crop_pairs."""
    stride = max(int(batch_size * pct), 1)
    ok = flagged.filter(F.col("ok"))
    gr = (F.col("r") / stride).cast("int")
    gc = (F.col("c") / stride).cast("int")
    cell = F.struct(gr.alias("gr"), gc.alias("gc"))
    return (
        ok.groupBy("pair_id", cell.alias("cell"))
        .agg(F.min(F.struct("r", "c")).alias("rc"))
        .select("pair_id", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    )
