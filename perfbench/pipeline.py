"""Stages 1-4 of the paper pipeline, driven one stage at a time through
the package's public functions, with Parquet between stages.

    pairing  scene listing -> build_scene_pairs            -> pairs/
    raster   scene_file_listing -> filter_band_files
             -> decode_rasters, per sensor                 -> s2/, hls/
    crops    build_pair_tensors -> build_crop_dataset      -> crops/

The stage-3 handoff is the decoded band rasters, not the pair tensors: a
Parquet handoff of the ``build_pair_tensors`` output ran the stage-4 scan
out of Java heap at 208 pairs of 192-px bands (see NOTES.md).

Every stage is a ``tracer.span``; the benchmark's untraced runs pass a
``NullTracer`` so the timed path is the same code with no recording.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentinel_landsat_database_creation_spark.operators.stacking import (
    LANDSAT_BANDS,
    SENTINEL_BANDS,
    band_rank,
    filter_band_files,
)
from sentinel_landsat_database_creation_spark.plans.satellite import (
    CropConfig,
    build_crop_dataset,
    build_pair_tensors,
    build_scene_pairs,
)
from sentinel_landsat_database_creation_spark.sources.raster import (
    decode_rasters,
    scene_file_listing,
)

STAGES = ("pairing", "raster", "crops")


class NullTracer:
    """The untraced run's tracer: spans and plan forcing cost nothing."""

    @contextmanager
    def span(self, name: str):
        yield

    def plan(self, df: DataFrame) -> None:
        pass


class Paths:
    """Stage outputs under one work directory."""

    def __init__(self, stage_dir: str):
        self.pairs = os.path.join(stage_dir, "pairs")
        self.s2 = os.path.join(stage_dir, "s2")
        self.hls = os.path.join(stage_dir, "hls")
        self.crops = os.path.join(stage_dir, "crops")


def _write(df: DataFrame, path: str, tracer) -> None:
    tracer.plan(df)
    df.write.mode("overwrite").parquet(path)


def _scene_listing(spark: SparkSession, root: str) -> DataFrame:
    return (
        scene_file_listing(spark, root)
        .select(F.col("scene").alias("data"))
        .distinct()
    )


def _rasters(spark: SparkSession, path: str, bands) -> DataFrame:
    return spark.read.parquet(path).withColumn(
        "band_rank", band_rank(F.col("band"), bands)
    )


def pair_tensors(spark: SparkSession, paths: Paths) -> DataFrame:
    """Stage 3's stacked tensors, rebuilt from the stage-3 handoff."""
    return build_pair_tensors(
        spark.read.parquet(paths.pairs),
        _rasters(spark, paths.s2, SENTINEL_BANDS),
        _rasters(spark, paths.hls, LANDSAT_BANDS),
    )


def run_pass(spark: SparkSession, fx, paths: Paths, cfg: CropConfig, tracer) -> float:
    """One pipeline pass from the scene tree to committed crop Parquet;
    returns its wall time in seconds."""
    t0 = time.perf_counter()
    with tracer.span("pipeline"):
        _stages(spark, fx, paths, cfg, tracer)
    return time.perf_counter() - t0


def _stages(spark: SparkSession, fx, paths: Paths, cfg: CropConfig, tracer) -> None:
    with tracer.span("pairing"):
        pairs = build_scene_pairs(
            _scene_listing(spark, fx.s2_root),
            _scene_listing(spark, fx.hls_root),
            fx.s2_root,
            fx.hls_root,
        )
        _write(pairs, paths.pairs, tracer)
    with tracer.span("raster"):
        for root, bands, out in (
            (fx.s2_root, SENTINEL_BANDS, paths.s2),
            (fx.hls_root, LANDSAT_BANDS, paths.hls),
        ):
            files = filter_band_files(scene_file_listing(spark, root), bands)
            _write(decode_rasters(files), out, tracer)
    with tracer.span("crops"):
        crops = build_crop_dataset(
            pair_tensors(spark, paths), spark.read.parquet(fx.mask_path), cfg
        )
        _write(crops, paths.crops, tracer)


def crop_digest(paths: Paths) -> dict:
    """The committed crop Parquet's digest, read with pyarrow and NumPy
    (no Spark): crop count, center sums, nonzero HR cells, and per band
    index the sums of the finite HR and of the LR crop values."""
    import pyarrow.parquet as pq

    t = pq.read_table(paths.crops, columns=["center_r", "center_c", "hr_pixels", "lr_pixels"])
    hr_nz, hr_sum = _band_sums(t.column("hr_pixels"))
    _, lr_sum = _band_sums(t.column("lr_pixels"))
    return {
        "crops": t.num_rows,
        "sum_r": int(pc.sum(t.column("center_r")).as_py() or 0),
        "sum_c": int(pc.sum(t.column("center_c")).as_py() or 0),
        "nz_hr": hr_nz,
        "hr_sum": hr_sum,
        "lr_sum": lr_sum,
    }


def _band_sums(col, bands: int = 4) -> tuple:
    """Nonzero count and per-band sums of the finite values of a
    bands x pixels list column (one inner list per band, in band order)."""
    import numpy as np

    per_band = pc.list_flatten(col)  # one row per (crop, band)
    values = pc.list_flatten(per_band).to_numpy(zero_copy_only=False).astype(np.float64)
    band = pc.list_parent_indices(per_band).to_numpy() % bands
    finite = np.where(np.isfinite(values), values, 0.0)
    return (
        int(np.count_nonzero(values)),
        np.bincount(band, weights=finite, minlength=bands).tolist(),
    )
