"""The geo workloads, driven through the package's public functions.

Each workload object owns its generated input and exposes

* ``setup(spark, workdir)`` -- generate the input from the seed, and
  persist it in Spark memory or write it to a zarr store;
* ``run(tracer)`` -- one full pipeline run: open -> grid mapping ->
  ``resample_in_space`` -> action or write.  It returns the per-run
  check value (a row count, or the number of chunk files written);
* ``output_frame()`` -- the lazily built output of one more run, for the
  once-per-set checks (checksum and analytic oracle);
* ``oracle(pdf)`` -- the expected value of every output pixel.

Seeds change only the pixel values, never the geometry, so row and chunk
counts are the same for every seed.  Every value field is affine in the
source pixel indices (one set of seeded coefficients per band or date).
Bilinear interpolation and mean aggregation reproduce affine fields
exactly, so the oracle can state each output pixel's value without running
the program: it maps the target pixel centre back to fractional source
indices and evaluates the field there.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from xcube_resampling_spark.crs import CRS, CRS_WGS84, Transformer
from xcube_resampling_spark.dataset import SparkDataset, Variable
from xcube_resampling_spark.gridmapping import GridMapping
from xcube_resampling_spark.gridmapping.distributed import GridMappingDF
from xcube_resampling_spark.operators.spatial import resample_in_space
from xcube_resampling_spark.sources.zarr import (
    open_zarr_dataset,
    read_zarr,
    write_zarr_cf,
)

UTM32N = 32632
LAEA_EUROPE = 3035


def _index_frame(spark, width: int, height: int, dates: int = 1):
    """(t, j, i) of every pixel of a (dates, height, width) cube,
    generated in the JVM."""
    wh = width * height
    return spark.range(dates * wh).select(
        (F.col("id") / wh).cast("int").alias("t"),
        ((F.col("id") % wh) / width).cast("int").alias("j"),
        (F.col("id") % width).cast("int").alias("i"),
    )


def _field_col(coeffs: np.ndarray):
    """Column expression of the affine field, one coefficient triple per
    t (picked by the row's t)."""
    def pick(k):
        return F.array(*[F.lit(float(c)) for c in coeffs[:, k]])[F.col("t")]

    return pick(0) + pick(1) * F.col("i") + pick(2) * F.col("j")


def _affine_coeffs(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` seeded (offset, d/di, d/dj) triples of an affine field."""
    return np.column_stack([
        rng.uniform(-50.0, 50.0, n),
        rng.uniform(-0.05, 0.05, n),
        rng.uniform(-0.05, 0.05, n),
    ])


def _affine_field(coeffs, ii, jj):
    a, b, c = coeffs
    return a + b * ii + c * jj


def _persist(df):
    df = df.cache()
    df.count()
    return df


class RectifySwath:
    """OLCI-like sheared swath with 2-D lon/lat -> regular WGS84 grid.

    The swath's pixel spacing (~0.0102 deg) is finer than the target's
    0.0125 deg, so ``resample_in_space`` pre-downscales before rectifying.
    The lon/lat images are a distributed ``GridMappingDF`` inferred by the
    benchmark; the action is one count per band."""

    name = "rectify_swath"
    source_crs = CRS_WGS84
    step = 0.0102    # swath pixel spacing, deg
    shear = (0.003, 0.002)  # lon per row, lat per column, deg
    origin = (5.0, 62.0)    # lon, lat of pixel (0, 0)
    target_res = 0.0125

    def __init__(self, seed: int, width: int, height: int, bands: int):
        self.width, self.height, self.bands = width, height, bands
        self.coeffs = _affine_coeffs(
            np.random.default_rng([seed, 1]), bands)
        # lon = lon0 + s*i + shx*j ; lat = lat0 - s*j + shy*i
        s = self.step
        self.m = np.array([[s, self.shear[0]], [self.shear[1], -s]])
        corners = np.array([[0, 0], [width - 1, 0], [0, height - 1],
                            [width - 1, height - 1]], dtype=float)
        lonlat = corners @ self.m.T + np.array(self.origin)
        res = self.target_res
        x0 = np.floor(lonlat[:, 0].min() / res) * res
        y0 = np.floor(lonlat[:, 1].min() / res) * res
        tw = int(np.ceil((lonlat[:, 0].max() - x0) / res)) + 1
        th = int(np.ceil((lonlat[:, 1].max() - y0) / res)) + 1
        self.target_gm = GridMapping.regular(
            (tw, th), (float(x0), float(y0)), res, CRS_WGS84)
        self.ds = None
        self.coords_df = None

    @property
    def output_px(self) -> int:
        tw, th = self.target_gm.size
        return tw * th * self.bands

    def band_names(self):
        return [f"band_{b}" for b in range(self.bands)]

    def setup(self, spark, workdir: str) -> None:
        (s, shx), (shy, _) = self.m
        idx = _index_frame(spark, self.width, self.height)
        self.coords_df = _persist(idx.select(
            "j", "i",
            (F.lit(self.origin[0]) + s * F.col("i") + shx * F.col("j")
             ).alias("x"),
            (F.lit(self.origin[1]) - s * F.col("j") + shy * F.col("i")
             ).alias("y"),
        ))
        data_vars = {}
        for b, name in enumerate(self.band_names()):
            df = _persist(idx.select(
                "t", "j", "i",
                _field_col(self.coeffs[b:b + 1]).alias("value")))
            data_vars[name] = Variable(name, df, ("y", "x"), "float64", {})
        self.ds = SparkDataset(spark=spark, data_vars=data_vars,
                               yx_dims=("y", "x"))

    def _resampled(self, tracer):
        with tracer.span("gridmapping.infer"):
            gm = GridMappingDF.from_coords_df(self.coords_df, CRS_WGS84)
        with tracer.span("operators.spatial.plan"):
            return resample_in_space(self.ds, self.target_gm, source_gm=gm,
                                     interp_methods="bilinear")

    def run(self, tracer) -> int:
        out = self._resampled(tracer)
        with tracer.span("operators.rectify.exec"):
            return sum(out.data_vars[b].df.count()
                       for b in self.band_names())

    def output_frame(self, tracer):
        out = self._resampled(tracer)
        frames = [out.data_vars[b].df.select(
            F.lit(k).alias("band"), "j", "i", "value")
            for k, b in enumerate(self.band_names())]
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        return df

    def oracle(self, pdf: pd.DataFrame) -> np.ndarray:
        gm = self.target_gm
        lon = gm.x_min + (pdf["i"].to_numpy() + 0.5) * gm.x_res
        lat = gm.y_max - (pdf["j"].to_numpy() + 0.5) * gm.y_res
        d = np.stack([lon - self.origin[0], lat - self.origin[1]])
        ii, jj = np.linalg.solve(self.m, d)
        c = self.coeffs[pdf["band"].to_numpy()].T
        return _affine_field(c, ii, jj)


class ReprojectZarrStack:
    """A (t, y, x) UTM-32N cube in a CF zarr store (zlib, one chunk per
    date and ``chunk`` x ``chunk`` pixels, no time coordinate) written
    once at set-up.  Each run opens it, reprojects it bilinearly to LAEA
    Europe (EPSG:3035) at the same 100 m pixel size, and writes the
    result to a fresh store."""

    name = "reproject_zarr_stack"
    res = 100.0
    x0, y0 = 500000.0, 5900000.0   # UTM pixel (0, 0) outer corner

    def __init__(self, seed: int, size: int, target_size: int, dates: int,
                 chunk: int):
        self.size, self.target_size, self.dates = size, target_size, dates
        self.chunk = chunk
        self.coeffs = _affine_coeffs(np.random.default_rng([seed, 2]), dates)
        n, res = size, self.res
        self.source_crs = CRS.from_epsg(UTM32N)
        self.source_gm = GridMapping.regular(
            (n, n), (self.x0, self.y0 - res * n), res, self.source_crs)
        dst_crs = CRS.from_epsg(LAEA_EUROPE)
        # target centred on the source footprint
        cx, cy = Transformer.from_crs(self.source_crs, dst_crs).transform(
            np.array([self.x0 + res * n / 2]),
            np.array([self.y0 - res * n / 2]))
        half = res * target_size / 2
        self.target_gm = GridMapping.regular(
            (target_size, target_size),
            (float(np.round(cx[0] - half)), float(np.round(cy[0] - half))),
            res, dst_crs)
        self.spark = None
        self.src_path = None
        self.out_root = None
        self.runs = 0

    @property
    def output_px(self) -> int:
        return self.target_size ** 2 * self.dates

    def setup(self, spark, workdir: str) -> None:
        self.spark = spark
        self.src_path = os.path.join(workdir, "stack.zarr")
        self.out_root = os.path.join(workdir, "out")
        shutil.rmtree(self.src_path, ignore_errors=True)
        shutil.rmtree(self.out_root, ignore_errors=True)
        os.makedirs(self.out_root)
        df = _index_frame(spark, self.size, self.size, self.dates).select(
            "t", "j", "i", _field_col(self.coeffs).alias("value"))
        write_zarr_cf(df, self.src_path, "value", self.source_gm,
                      compressor="zlib", nt=self.dates,
                      chunks=(1, self.chunk, self.chunk))

    def _open(self, tracer):
        with tracer.span("sources.zarr.open"):
            ds, _ = open_zarr_dataset(self.spark, self.src_path)
        return ds

    def _resampled(self, tracer, ds):
        with tracer.span("gridmapping.infer"):
            gm = ds.grid_mapping()
        with tracer.span("operators.spatial.plan"):
            return resample_in_space(ds, self.target_gm, source_gm=gm,
                                     interp_methods="bilinear")

    @property
    def last_out(self) -> str:
        return os.path.join(self.out_root, f"run{self.runs}.zarr")

    def fresh_out(self) -> str:
        """A new output path; the previous run's store is removed."""
        shutil.rmtree(self.last_out, ignore_errors=True)
        self.runs += 1
        return self.last_out

    def write(self, tracer, df, path) -> int:
        with tracer.span("sources.zarr.write"):
            write_zarr_cf(df, path, "value", self.target_gm,
                          compressor="zlib", nt=self.dates,
                          chunks=(1, self.chunk, self.chunk))
        return count_chunks(path, "value")

    def run(self, tracer) -> int:
        out = self._resampled(tracer, self._open(tracer))
        return self.write(tracer, out.data_vars["value"].df,
                          self.fresh_out())

    def output_frame(self, tracer):
        """Run the pipeline once more and read the written store back."""
        self.run(tracer)
        return read_zarr(self.spark, self.last_out, "value")

    def layers_alone(self, tracer) -> dict:
        """Read, reproject and write, each timed alone: the read into a
        no-op sink; the reprojection of a persisted source into a no-op
        sink; the write from a persisted reprojection."""
        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        out = {"sources.zarr.read_mb": store_bytes(self.src_path, "value")
               / 2 ** 20}
        t0 = time.perf_counter()
        with tracer.span("sources.zarr.read_alone"):
            noop(read_zarr(self.spark, self.src_path, "value"))
        out["sources.zarr.read_s"] = time.perf_counter() - t0
        ds = self._open(tracer)
        src = ds.data_vars["value"]
        persisted = _persist(src.df)
        ds.data_vars["value"] = src.with_df(persisted)
        t0 = time.perf_counter()
        with tracer.span("operators.reproject.alone"):
            res = self._resampled(tracer, ds).data_vars["value"].df
            noop(res)
        out["operators.reproject.alone_s"] = time.perf_counter() - t0
        res = _persist(res)
        path = self.fresh_out()
        t0 = time.perf_counter()
        out["sources.zarr.chunks_written"] = self.write(tracer, res, path)
        out["sources.zarr.write_s"] = time.perf_counter() - t0
        out["sources.zarr.write_mb"] = store_bytes(path, "value") / 2 ** 20
        res.unpersist()
        persisted.unpersist()
        return out

    def oracle(self, pdf: pd.DataFrame) -> np.ndarray:
        gm, src = self.target_gm, self.source_gm
        tx = gm.x_min + (pdf["i"].to_numpy() + 0.5) * gm.x_res
        ty = gm.y_max - (pdf["j"].to_numpy() + 0.5) * gm.y_res
        sx, sy = Transformer.from_crs(gm.crs, self.source_crs).transform(
            tx, ty)
        fi = (sx - src.x_min) / self.res - 0.5
        fj = (src.y_max - sy) / self.res - 0.5
        c = self.coeffs[pdf["t"].to_numpy()].T
        return _affine_field(c, fi, fj)


def count_chunks(path: str, var: str) -> int:
    """Chunk files of ``var`` in a zarr v2 store."""
    vdir = os.path.join(path, var)
    return sum(1 for n in os.listdir(vdir) if not n.startswith("."))


def store_bytes(path: str, var: str) -> int:
    vdir = os.path.join(path, var)
    return sum(os.path.getsize(os.path.join(vdir, n))
               for n in os.listdir(vdir) if not n.startswith("."))
