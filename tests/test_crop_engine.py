"""Crop-engine correctness vs a NumPy oracle.

The oracle below reimplements the studied behavior of the reference's
``little_pair`` (data_pair/fct_data_extraction.py:29-157) — including
the as-built quirks (count-based bounds, mixed inf denominator, row/col
band purge, mutating-list cursor walk) — on FIXTURES.md-shaped synthetic
rasters (batch=12, scale=3, pct=0.7, HR 60x60, LR 20x20, planted
zero/-9999/inf contamination). The crop kernel must agree on candidate
sets, per-candidate quality flags (its in-kernel ``candidate_flags`` and
the survivors it emits), greedy-kept centers, grid survivors, and exact
crop pixel values.
"""

from __future__ import annotations

import numpy as np
import pytest

from sentinel_landsat_database_creation_spark.operators.crops import (
    NODATA,
    candidate_centers,
    candidate_flags,
    crop_pairs,
)

BATCH, SCALE, PCT = 12, 3, 0.7
HR_N, LR_N = 60, 20
N_BANDS = 4


# ---------------------------------------------------------------------------
# fixtures


def _hr() -> np.ndarray:
    b, r, c = np.meshgrid(
        np.arange(N_BANDS), np.arange(HR_N), np.arange(HR_N), indexing="ij"
    )
    hr = (((b + 1) * 1000 + r * HR_N + c) % 997) / 997.0 + 0.001
    hr = hr.astype(np.float32)
    hr[0, 18:29, 12:23] = 0.0  # zero patch: fails >=99% nonzero nearby
    hr[1, 40:45, 40:45] = np.inf  # inf patch: fails <=1% inf nearby
    return hr


def _lr() -> np.ndarray:
    b, r, c = np.meshgrid(
        np.arange(N_BANDS), np.arange(LR_N), np.arange(LR_N), indexing="ij"
    )
    lr = (((b + 2) * 500 + r * LR_N + c) % 499) / 499.0 + 0.001
    lr = lr.astype(np.float32)
    lr[2, 5:8, 10:13] = NODATA  # nodata patch: fails <=1% -9999 nearby
    return lr


def _mask() -> np.ndarray:
    m = np.zeros((HR_N, HR_N), dtype=np.int32)
    for r in range(3, 55):  # diagonal-ish centerline, some near-border
        m[r, min(r + (r % 3), HR_N - 1)] = 1
    m[2, 2] = 1  # must be rejected by the bounds filter
    return m


# ---------------------------------------------------------------------------
# NumPy oracle (reference semantics, compat quirks included)


def oracle_candidates(mask: np.ndarray):
    r_tmp, c_tmp = np.where(mask == 1)
    half = BATCH // 2
    upper_c = len(c_tmp) - 1 - half
    upper_r = len(r_tmp) - 1 - half
    out = []
    for i in range(len(r_tmp)):
        if (
            r_tmp[i] > half
            and c_tmp[i] > half
            and r_tmp[i] < upper_r
            and c_tmp[i] < upper_c
        ):
            out.append((int(r_tmp[i]), int(c_tmp[i])))
    return out


def oracle_quality(hr: np.ndarray, lr: np.ndarray, rr: int, cc: int) -> bool:
    half = BATCH // 2
    r1, r2, c1, c2 = rr - half, rr + half, cc - half, cc + half
    crop1 = hr[:, r1:r2, c1:c2]
    crop2 = lr[:, r1 // SCALE : r2 // SCALE, c1 // SCALE : c2 // SCALE]
    n = N_BANDS
    b, bs = BATCH, BATCH // SCALE
    pz1 = np.count_nonzero(crop1) * 100 / (b * b * n)
    pz2 = np.count_nonzero(crop2) * 100 / (bs * bs * n)
    p9 = np.sum(crop2 == NODATA) * 100 / (bs * bs * n)
    pinf = np.sum(np.isinf(crop1)) * 100 / (bs * b * n)  # as-built mix
    return bool(pz1 >= 99 and pz2 >= 99 and p9 <= 1 and pinf <= 1)


def oracle_walk(cands, ok_fn, overlap=True):
    r = [x[0] for x in cands]
    c = [x[1] for x in cands]
    kept = []
    i = -1
    while len(r) > 0:
        i += 1
        rr, cc = r[i], c[i]
        if ok_fn(rr, cc):
            kept.append((rr, cc))
            if overlap:
                a = rr + BATCH * PCT
                b = cc + BATCH * PCT
                keep = [not (a <= v <= b) for v in r]
                r = [v for v, k in zip(r, keep) if k]
                c = [v for v, k in zip(c, keep) if k]
                keep = [not (a <= v <= b) for v in c]
                r = [v for v, k in zip(r, keep) if k]
                c = [v for v, k in zip(c, keep) if k]
        if i >= len(r) - 1:
            break
    return kept


# ---------------------------------------------------------------------------
# Spark pipeline fixtures


def _pairs_df(spark, hr, lr, mask_id=None, pair_id=1):
    cols = "pair_id long, " + ("mask_id string, " if mask_id else "")
    row = (pair_id,) + ((mask_id,) if mask_id else ()) + (
        [b.ravel().tolist() for b in hr],
        hr.shape[2],
        [b.ravel().tolist() for b in lr],
        lr.shape[2],
    )
    return spark.createDataFrame(
        [row],
        cols + "hr_bands array<array<float>>, hr_width int, "
        "lr_bands array<array<float>>, lr_width int",
    )


def _kernel(pairs, centers, greedy=True, **kw):
    return crop_pairs(
        pairs, centers, BATCH, SCALE, PCT, greedy=greedy, compat_quality=True, **kw
    )


def _centers_of(df):
    return sorted((r["center_r"], r["center_c"]) for r in df.collect())


@pytest.fixture(scope="module")
def pipeline(spark):
    hr, lr, mask = _hr(), _lr(), _mask()
    mask_df = spark.createDataFrame(
        [("m1", HR_N, HR_N, [int(v) for v in mask.ravel()])],
        "mask_id string, height int, width int, pixels array<int>",
    )
    centers = candidate_centers(mask_df, BATCH, compat_bounds=True)
    return hr, lr, mask, _pairs_df(spark, hr, lr), centers


def test_candidate_centers_match_oracle(pipeline):
    hr, lr, mask, pairs, centers = pipeline
    got = [(r["r"], r["c"]) for r in centers.orderBy("ord").collect()]
    assert got == oracle_candidates(mask)


def test_quality_flags_match_oracle(pipeline):
    """The kernel's own flag function, per candidate, against the
    oracle — and the kernel's survivors with overlap off are exactly the
    oracle-passing candidates."""
    hr, lr, mask, pairs, centers = pipeline
    cands = oracle_candidates(mask)
    assert len(cands) > 0
    r = np.array([x[0] for x in cands])
    c = np.array([x[1] for x in cands])
    flags = candidate_flags(hr, lr, r, c, BATCH, SCALE, N_BANDS, compat=True)
    want = [oracle_quality(hr, lr, rr, cc) for rr, cc in cands]
    assert flags.tolist() == want
    assert 0 < sum(want) < len(want), "fixture must exercise both outcomes"
    emitted = _centers_of(_kernel(pairs, centers, overlap=False))
    assert emitted == sorted(x for x, ok in zip(cands, want) if ok)


def test_crop_pixels_exact(pipeline):
    hr, lr, mask, pairs, centers = pipeline
    half, s = BATCH // 2, BATCH // SCALE
    rows = _kernel(pairs, centers, overlap=False).collect()
    assert len(rows) > 5
    for row in rows:
        rr, cc = row["center_r"], row["center_c"]
        exp_hr = hr[:, rr - half : rr + half, cc - half : cc + half]
        got_hr = np.array(row["hr_pixels"], dtype=np.float32).reshape(
            N_BANDS, BATCH, BATCH
        )
        assert np.array_equal(exp_hr, got_hr, equal_nan=True)
        r1, c1 = (rr - half) // SCALE, (cc - half) // SCALE
        exp_lr = lr[:, r1 : r1 + s, c1 : c1 + s]
        got_lr = np.array(row["lr_pixels"], dtype=np.float32).reshape(N_BANDS, s, s)
        assert np.array_equal(exp_lr, got_lr)
        assert row["hr_size"] == BATCH and row["lr_size"] == s


def test_greedy_suppression_matches_oracle(pipeline):
    hr, lr, mask, pairs, centers = pipeline
    got = _centers_of(_kernel(pairs, centers))
    expect = sorted(
        oracle_walk(
            oracle_candidates(mask), lambda r, c: oracle_quality(hr, lr, r, c)
        )
    )
    assert got == expect
    assert len(got) > 0


def test_greedy_no_overlap_keeps_all_passing(pipeline):
    hr, lr, mask, pairs, centers = pipeline
    got = _centers_of(_kernel(pairs, centers, overlap=False))
    expect = sorted(
        oracle_walk(
            oracle_candidates(mask),
            lambda r, c: oracle_quality(hr, lr, r, c),
            overlap=False,
        )
    )
    assert got == expect


def test_grid_suppression_properties(pipeline):
    hr, lr, mask, pairs, centers = pipeline
    rows = _centers_of(_kernel(pairs, centers, greedy=False))
    assert len(rows) > 0
    stride = int(BATCH * PCT)
    cells = {(r // stride, c // stride) for r, c in rows}
    assert len(cells) == len(rows), "one survivor per grid cell"
    for r, c in rows:
        assert oracle_quality(hr, lr, r, c)
    best = {}
    for r, c in oracle_candidates(mask):
        if oracle_quality(hr, lr, r, c):
            cell = (r // stride, c // stride)
            best[cell] = min(best.get(cell, (r, c)), (r, c))
    assert rows == sorted(best.values()), "minimum (r, c) per cell"


def test_shuffle_variant_deterministic(spark, pipeline):
    """The seeded shuffle permutes the ord-sorted list, so the same seed
    keeps the same crops however the candidate rows arrive."""
    hr, lr, mask, pairs, centers = pipeline
    rows = [tuple(r) for r in centers.select("mask_id", "ord", "r", "c").collect()]
    schema = "mask_id string, ord long, r int, c int"
    fwd = spark.createDataFrame(sorted(rows, key=lambda t: t[1]), schema)
    rev = spark.createDataFrame(sorted(rows, key=lambda t: -t[1]), schema)
    got = [
        _centers_of(_kernel(pairs, cdf.coalesce(1), shuffle_seed=42))
        for cdf in (fwd, rev, fwd)
    ]
    assert got[0] == got[1] == got[2] and len(got[0]) > 0


def test_truncated_edge_crop_keeps_short_shape(spark):
    """batch_size >= 100: a crop one row short of the bottom edge still
    holds 99% of its cells and passes the fixed-denominator gate, and
    its payload keeps slice2d's short-crop shape (99 x 100 per band).
    Two rows short fails the gate."""
    b, s = 100, 2
    hr = (np.arange(150 * 150, dtype=np.float32).reshape(1, 150, 150) % 7) + 1
    lr = (np.arange(75 * 75, dtype=np.float32).reshape(1, 75, 75) % 5) + 1
    pairs = _pairs_df(spark, hr, lr)
    centers = spark.createDataFrame(
        [(1, 0, 101, 60), (1, 1, 102, 60)], "mask_id int, ord long, r int, c int"
    )
    rows = crop_pairs(
        pairs, centers, b, s, 0.7, greedy=True, n_bands=1, overlap=False
    ).collect()
    assert [(r["center_r"], r["center_c"]) for r in rows] == [(101, 60)]
    (got_hr,), (got_lr,) = rows[0]["hr_pixels"], rows[0]["lr_pixels"]
    assert len(got_hr) == 99 * 100 and len(got_lr) == 50 * 50
    assert np.array_equal(np.array(got_hr, np.float32), hr[0, 51:151, 10:110].ravel())
    assert np.array_equal(np.array(got_lr, np.float32), lr[0, 25:75, 5:55].ravel())


def test_mask_keyed_pairs_do_not_leak_centers(spark):
    """Two masks, two pairs keyed by mask_id: each pair must meet ONLY
    its own mask's centers (VERDICT r1 item 5 — unkeyed, a second mask
    handed every pair the union of all centers)."""

    def mask_pixels(kind):
        m = np.zeros((HR_N, HR_N), dtype=int)
        if kind == "row":
            m[20, 10:50] = 1
        else:
            m[10:50, 25] = 1
        return [int(v) for v in m.ravel()]

    masks = spark.createDataFrame(
        [
            ("mA", HR_N, HR_N, mask_pixels("row")),
            ("mB", HR_N, HR_N, mask_pixels("col")),
        ],
        "mask_id string, height int, width int, pixels array<int>",
    )
    hr, lr = _hr(), _lr()
    # one partition: both pairs reach the kernel in the same Arrow batch
    pairs = (
        _pairs_df(spark, hr, lr, "mA", 1)
        .union(_pairs_df(spark, hr, lr, "mB", 2))
        .coalesce(1)
    )
    centers = candidate_centers(masks, BATCH, compat_bounds=False)
    by_mask = {mid: set() for mid in ("mA", "mB")}
    for row in centers.collect():
        by_mask[row["mask_id"]].add((row["r"], row["c"]))
    assert by_mask["mA"] and by_mask["mB"] and by_mask["mA"] != by_mask["mB"]

    crops = _kernel(pairs, centers, overlap=False)
    for pid, mid in ((1, "mA"), (2, "mB")):
        got = set(_centers_of(crops.filter(crops.pair_id == pid)))
        want = {x for x in by_mask[mid] if oracle_quality(hr, lr, *x)}
        assert want, f"mask {mid} must keep some crops"
        assert got == want, f"pair {pid} must see only mask {mid} centers"
