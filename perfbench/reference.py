"""NumPy reference of pipeline stages 1-4 for the benchmark's digest.

Written from the reference semantics (SURVEY.md §1.4 and §2 ops 13, 14,
33, 35, 43/44; the ``operators/crops.py`` docstring), not from the
package's Spark code, and fed the generator's in-memory arrays rather
than the files on disk:

- stage 1: date from the scene name, keep dates inside the golden week
  grid, bin by Thursday-aligned week, dense-rank the non-empty bins of
  each sensor into class labels;
- stage 2: every S2 scene pairs with every HLS scene of the same class;
- stage 3: four bands per scene in fixed channel order;
- stage 4: centerline points in row-major order, bounds-filtered (compat:
  upper limits from the COUNT of centerline points), HR crop
  ``[r-b/2 : r+b/2]`` with NumPy truncation at the frame edge, LR crop at
  the same corner divided by the scale, the quality gate as exact integer
  comparisons (compat: inf denominator LR height x HR width x bands), then
  overlap suppression — compat: the as-built greedy walk over a mutating
  list; native: the minimum (r, c) per stride-sized grid cell.

The digest is (crop count, sum of center rows, sum of center cols, sum
of nonzero HR cells over accepted crops), the shape of the package's
``crop_volume._summarize`` totalled over pairs, plus per band index the
float64 sum of the finite HR and of the LR crop values, so wrong pixel
values or a swapped band order show as well as a wrong crop layout.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

BATCH = 12
SCALE = 3
PCT = 0.7
NODATA = -9999.0
_EPOCH = dt.date(1970, 1, 1)
# golden grid: edges 2022-12-29 .. 2024-01-04 inclusive, 53 bins
_FIRST_EDGE = dt.date(2022, 12, 29)
_LAST_EDGE = dt.date(2024, 1, 4)
_N_BINS = 53


def _s2_date(name: str) -> dt.date:
    return dt.datetime.strptime(name[:8], "%Y%m%d").date()


def _hls_date(name: str) -> dt.date:
    return dt.datetime.strptime(name.split(".")[3][:7], "%Y%j").date()


def _classes(names, date_of) -> dict:
    """Stage 1: scene -> class label; scenes outside the grid drop. Only
    the label's identity matters for pairing, so the dense rank stands in
    for the base-26 letters."""
    first_wk = (_FIRST_EDGE - _EPOCH).days // 7
    bins = {}
    for n in names:
        d = date_of(n)
        if not _FIRST_EDGE <= d <= _LAST_EDGE:
            continue
        b = (d - _EPOCH).days // 7 - first_wk
        bins[n] = min(b, _N_BINS - 1)
    rank = {b: i for i, b in enumerate(sorted(set(bins.values())))}
    return {n: rank[b] for n, b in bins.items()}


def scene_pairs(s2_names, hls_names) -> list:
    """Stages 1-2: (s2_scene, hls_scene) for every same-class pair."""
    s2_cls = _classes(s2_names, _s2_date)
    hls_cls = _classes(hls_names, _hls_date)
    return [
        (s, h) for s, cs in s2_cls.items() for h, ch in hls_cls.items() if cs == ch
    ]


def candidate_centers(mask: np.ndarray, compat: bool) -> np.ndarray:
    """(r, c) rows of the centerline in row-major order, bounds-filtered."""
    half = BATCH // 2
    r, c = np.nonzero(mask == 1)
    if compat:
        upper_r = upper_c = len(r) - 1 - half
    else:
        upper_r, upper_c = mask.shape[0] - half, mask.shape[1] - half
    keep = (r > half) & (c > half) & (r < upper_r) & (c < upper_c)
    return np.stack([r[keep], c[keep]], axis=1)


def _window_sums(a: np.ndarray, r0: np.ndarray, c0: np.ndarray, size: int):
    """Per-corner, per-band sum of ``a`` (bands, H, W) over the ``size`` x
    ``size`` window at (r0, c0), truncated at the frame edge like a NumPy
    slice; returns (corners, bands)."""
    h, w = a.shape[1:]
    cum = np.zeros((a.shape[0], h + 1, w + 1), a.dtype)
    cum[:, 1:, 1:] = a.cumsum(axis=1).cumsum(axis=2)
    r1, c1 = np.minimum(r0 + size, h), np.minimum(c0 + size, w)
    r0, c0 = np.minimum(r0, h), np.minimum(c0, w)
    return (cum[:, r1, c1] - cum[:, r0, c1] - cum[:, r1, c0] + cum[:, r0, c0]).T


def _window_counts(ind: np.ndarray, r0: np.ndarray, c0: np.ndarray, size: int):
    """Per-corner count of ``ind`` cells in the window, summed over bands."""
    return _window_sums(ind.astype(np.int64), r0, c0, size).sum(axis=1)


def _quality(hr: np.ndarray, lr: np.ndarray, centers: np.ndarray, compat: bool):
    """Accept flag, HR nonzero count, and the per-band sums of the finite
    HR and LR crop values, per center (op 14)."""
    half, ls, n = BATCH // 2, BATCH // SCALE, hr.shape[0]
    hr_px, lr_px = BATCH * BATCH * n, ls * ls * n
    inf_denom = ls * BATCH * n if compat else hr_px
    r0, c0 = centers[:, 0] - half, centers[:, 1] - half
    nz_hr = _window_counts(hr != 0, r0, c0, BATCH)
    inf_hr = _window_counts(np.isinf(hr), r0, c0, BATCH)
    nz_lr = _window_counts(lr != 0, r0 // SCALE, c0 // SCALE, ls)
    nodata_lr = _window_counts(lr == NODATA, r0 // SCALE, c0 // SCALE, ls)
    ok = (
        (nz_hr * 100 >= 99 * hr_px)
        & (nz_lr * 100 >= 99 * lr_px)
        & (nodata_lr * 100 <= lr_px)
        & (inf_hr * 100 <= inf_denom)
    )
    hr_sum = _window_sums(np.where(np.isfinite(hr), hr, 0).astype(np.float64), r0, c0, BATCH)
    lr_sum = _window_sums(lr.astype(np.float64), r0 // SCALE, c0 // SCALE, ls)
    return ok, nz_hr, hr_sum, lr_sum


def _greedy(centers: np.ndarray, ok: np.ndarray) -> list:
    """Op 33 as built: walk a cursor over the candidate list; after an
    accepted (r, c), purge candidates whose row lies in [a, b], then those
    whose col lies in [a, b], with a = r + batch*pct and b = c + batch*pct.
    The cursor advances one slot per step over the shrinking list and the
    walk stops once it reaches the tail. Returns accepted indices."""
    alive = np.arange(len(centers))
    kept = []
    i = -1
    while len(alive):
        i += 1
        k = alive[i]
        if ok[k]:
            kept.append(k)
            a = centers[k, 0] + BATCH * PCT
            b = centers[k, 1] + BATCH * PCT
            rows = centers[alive, 0]
            alive = alive[(rows < a) | (rows > b)]
            cols = centers[alive, 1]
            alive = alive[(cols < a) | (cols > b)]
        if i >= len(alive) - 1:
            break
    return kept


def _grid(centers: np.ndarray, ok: np.ndarray) -> list:
    """Native suppression: the minimum (r, c) among accepted candidates
    of each stride x stride cell."""
    stride = max(int(BATCH * PCT), 1)
    best = {}
    for k in np.flatnonzero(ok):
        r, c = int(centers[k, 0]), int(centers[k, 1])
        cell = (r // stride, c // stride)
        if cell not in best or (r, c) < best[cell][0]:
            best[cell] = ((r, c), k)
    return [k for _, k in best.values()]


def digest(s2: dict, hls: dict, mask: np.ndarray, compat: bool) -> dict:
    """Stages 1-4 over the generator's arrays; returns the crop digest."""
    centers = candidate_centers(mask, compat)
    n = sum_r = sum_c = nz_total = 0
    hr_total, lr_total = np.zeros(4), np.zeros(4)
    for s2_scene, hls_scene in scene_pairs(list(s2), list(hls)):
        ok, nz, hr_sum, lr_sum = _quality(s2[s2_scene], hls[hls_scene], centers, compat)
        kept = np.array(
            _greedy(centers, ok) if compat else _grid(centers, ok), np.int64
        )
        n += len(kept)
        sum_r += int(centers[kept, 0].sum())
        sum_c += int(centers[kept, 1].sum())
        nz_total += int(nz[kept].sum())
        hr_total += hr_sum[kept].sum(axis=0)
        lr_total += lr_sum[kept].sum(axis=0)
    return {
        "crops": n, "sum_r": sum_r, "sum_c": sum_c, "nz_hr": nz_total,
        "hr_sum": hr_total.tolist(), "lr_sum": lr_total.tolist(),
    }


def matches(got: dict, ref: dict, rel: float = 1e-9) -> bool:
    """Digest equality: counts and center sums exactly, the per-band value
    sums to ``rel`` (the program sums the same float32 values in another
    order)."""
    exact = ("crops", "sum_r", "sum_c", "nz_hr")
    return all(got[k] == ref[k] for k in exact) and all(
        np.allclose(got[k], ref[k], rtol=rel, atol=0) for k in ("hr_sum", "lr_sum")
    )
