"""Array/tensor column expressions for raster payloads (SURVEY.md §2.9).

Rasters live as flattened row-major ``array<float>`` columns plus dims —
all slicing and statistics are native higher-order functions (no UDFs),
so they run inside whole-stage codegen and scale with partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def slice2d(flat: Column, width: Column, r0: Column, c0: Column, h: Column, w: Column) -> Column:
    """Crop a [h x w] window at (r0, c0) out of a row-major flattened
    raster (op 43: ``t[:, r0:r0+h, c0:c0+w]``). 1-based ``slice`` offset.

    Edge semantics match NumPy basic slicing (what the reference's
    ``t[0, :, r1:r2, c1:c2]`` does, fct_data_extraction.py:115-124):
    rows past the raster bottom contribute nothing (``slice`` past the
    array end is empty) and the per-row width is clamped to
    ``width - c0`` so a window crossing the right edge TRUNCATES
    instead of wrapping into the next row of the flattened buffer.
    Out-of-frame windows are reachable: the compat bounds filter's
    upper limits come from the centerline COUNT, not the raster dims
    (operators/crops.py:candidate_centers), so as-built centers near
    the edge produce short crops — which then fail the fixed-denominator
    quality gate, exactly as the reference's truncated NumPy crops do."""
    w_eff = F.greatest(F.least(w, width - c0), F.lit(0))
    return F.flatten(
        F.transform(
            F.sequence(r0, r0 + h - 1),
            lambda r: F.slice(flat, r * width + c0 + 1, w_eff),
        )
    )


def count_nonzero(arr: Column) -> Column:
    """torch.count_nonzero analog (op 26)."""
    return F.size(F.filter(arr, lambda x: x != 0))


def sum_over_bands(bands: Column, stat) -> Column:
    """Apply a per-band count expression across the band array and sum —
    the reference computes its quality percentages over b*b*n pixels
    spanning all n channels (fct_data_extraction.py:129-134)."""
    return F.aggregate(
        F.transform(bands, stat), F.lit(0), lambda acc, x: acc + x
    )
