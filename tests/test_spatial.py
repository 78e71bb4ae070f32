"""Dispatcher goldens replicating /root/reference/tests/test_spatial.py."""

import logging
import time
import uuid
from dataclasses import replace

import numpy as np
import pytest

from xcube_resampling_spark.crs import CRS_WGS84
from xcube_resampling_spark.gridmapping import GridMapping
from xcube_resampling_spark.operators.spatial import resample_in_space

from .sampledata import (
    create_2x2_dataset_with_irregular_coords,
    create_2x5x5_dataset_regular_utm,
    create_4x4_dataset_with_irregular_coords,
    create_5x5_dataset_regular_utm,
    create_8x6_dataset_with_regular_coords,
)

nan = np.nan


class TestResampleInSpace:
    def test_affine_route(self, spark):
        source_ds = create_8x6_dataset_with_regular_coords(spark)
        source_gm = source_ds.grid_mapping()
        target_gm = GridMapping.regular(
            (3, 3), (50.0, 10.0), 0.1, source_gm.crs
        )
        out = resample_in_space(source_ds, target_gm, interp_methods=1)
        got = out.to_numpy("refl", (3, 3))
        np.testing.assert_almost_equal(
            got, np.array([[1, 0, 2], [0, 3, 0], [4, 0, 1]])
        )

    def test_rectify_and_downscale(self, spark):
        source_ds = create_4x4_dataset_with_irregular_coords(spark)
        target_gm = GridMapping.regular(
            size=(2, 2), xy_min=(-1, 51), xy_res=2, crs=CRS_WGS84
        )
        out = resample_in_space(
            source_ds, target_gm=target_gm, interp_methods=0
        )
        got = out.to_numpy("rad", (2, 2))
        np.testing.assert_almost_equal(got, np.array([[5, 2], [14, 8]]))

        out = resample_in_space(
            source_ds, target_gm=target_gm, interp_methods=1
        )
        got = out.to_numpy("rad", (2, 2))
        np.testing.assert_almost_equal(
            got, np.array([[7.5, 4.5], [12.5, 9.5]])
        )

    def test_rectify_and_upscale(self, spark):
        source_ds = create_2x2_dataset_with_irregular_coords(spark)
        target_gm = GridMapping.regular(
            size=(4, 4), xy_min=(-1, 49), xy_res=2, crs=CRS_WGS84
        )
        out = resample_in_space(
            source_ds, target_gm=target_gm, interp_methods=0
        )
        got = out.to_numpy("rad", (4, 4))
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [nan, nan, nan, nan],
                    [nan, 1.0, 2.0, nan],
                    [3.0, 3.0, 2.0, nan],
                    [nan, 4.0, nan, nan],
                ]
            ),
        )

    def test_reproject_route(self, spark):
        source_ds = create_5x5_dataset_regular_utm(spark)
        target_gm = GridMapping.regular(
            size=(5, 5), xy_min=(4320080, 3382480), xy_res=80, crs="epsg:3035"
        )
        out = resample_in_space(
            source_ds, target_gm=target_gm, interp_methods=0
        )
        got = out.to_numpy("band_1", (5, 5))
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [1, 1, 2, 3, 4],
                    [6, 6, 7, 8, 9],
                    [11, 12, 12, 13, 14],
                    [16, 17, 17, 18, 19],
                    [21, 17, 17, 18, 19],
                ]
            ),
        )

    def test_reproject_route_geographic(self, spark):
        source_ds = create_5x5_dataset_regular_utm(spark)
        target_gm = GridMapping.regular(
            size=(5, 5), xy_min=(9.9886, 53.5499), xy_res=0.0006,
            crs=CRS_WGS84,
        )
        out = resample_in_space(
            source_ds, target_gm=target_gm, interp_methods=0
        )
        got = out.to_numpy("band_1", (5, 5))
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [7, 8, 8, 8, 9],
                    [12, 13, 13, 13, 14],
                    [12, 13, 13, 13, 14],
                    [17, 18, 18, 18, 19],
                    [22, 23, 23, 23, 24],
                ]
            ),
        )

    def test_no_target_warns_and_returns_input(self, spark, caplog):
        source_ds = create_5x5_dataset_regular_utm(spark)
        with caplog.at_level(logging.WARNING, "xcube_resampling_spark"):
            out = resample_in_space(source_ds)
        assert out is source_ds
        assert any(
            "If source grid mapping is regular `target_gm` must be given"
            in r.message
            for r in caplog.records
        )

    def test_identity_returns_input(self, spark):
        source_ds = create_5x5_dataset_regular_utm(spark)
        target_gm = source_ds.grid_mapping()
        out = resample_in_space(source_ds, target_gm=target_gm)
        assert out is source_ds


class TestCrsEquivalenceRoute:
    """Route selection compares CRS definitions, not display names: a
    UTM CRS read back from CF attributes is named "Transverse Mercator",
    the one built from its EPSG code "WGS 84 / UTM zone 32N"."""

    def test_cf_roundtrip_crs_takes_affine_route(self, spark):
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.operators.affine import (
            affine_transform_dataset,
        )
        from xcube_resampling_spark.operators.utils import (
            can_apply_affine_transform,
        )

        source_ds = create_5x5_dataset_regular_utm(spark)
        utm = CRS.from_epsg(32632)
        cf_utm = CRS.from_cf(utm.to_cf())
        assert cf_utm.name != utm.name
        source_gm = GridMapping.regular(
            (5, 5), (565250.0, 5933850.0), 100.0, utm
        )
        # shifted by one pixel in x and y, same CRS through CF
        target_gm = GridMapping.regular(
            (5, 5), (565350.0, 5933750.0), 100.0, cf_utm
        )
        assert can_apply_affine_transform(source_gm, target_gm)

        got = resample_in_space(
            source_ds, target_gm, source_gm=source_gm, interp_methods=0
        ).to_numpy("band_1", (5, 5))
        ref = affine_transform_dataset(
            source_ds,
            GridMapping.regular((5, 5), (565350.0, 5933750.0), 100.0, utm),
            source_gm=source_gm,
            interp_methods=0,
        ).to_numpy("band_1", (5, 5))
        np.testing.assert_array_equal(got, ref)
        # the shift moves the image one pixel left and up; the
        # uncovered last row and column are fill
        band_1 = np.arange(25).reshape((5, 5))
        np.testing.assert_array_equal(got[:4, :4], band_1[1:, 1:])


def _jobs_launched(spark, fn) -> int:
    """Spark jobs that ``fn()`` launches from this thread, counted by the
    status tracker under a fresh job group."""
    sc = spark.sparkContext
    group, marker = (f"{tag}-{uuid.uuid4().hex}" for tag in ("fn", "mark"))
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setJobGroup(marker, "marker")
        spark.range(1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the tracker is fed asynchronously, in job order: once the marker
    # job shows, every job started before it shows too
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never tracked"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def _rectify_target():
    return GridMapping.regular(
        size=(2, 2), xy_min=(-1, 51), xy_res=2, crs=CRS_WGS84
    )


def _store_read(spark, tmp_path, ds, var, nt):
    """``ds[var]`` written to a CF zarr store (no time coordinate) and
    opened again: a store-read variable, whose extents come from the
    store's ``.zarray``."""
    from xcube_resampling_spark.sources.zarr import (
        open_zarr_dataset,
        write_zarr_cf,
    )

    path = str(tmp_path / "store.zarr")
    write_zarr_cf(ds.data_vars[var].df, path, var, ds.grid_mapping(),
                  nt=nt)
    return open_zarr_dataset(spark, path)[0]


_EPSG3035_5X5 = GridMapping.regular(
    (5, 5), (4320080, 3382480), 80, "epsg:3035"
)


@pytest.mark.parametrize("case", [
    "rectify_downscale_numpy_gm", "rectify_downscale_gm_df", "affine",
    "reproject", "reproject_time_coord", "reproject_zarr_no_time_coord",
])
def test_planning_launches_no_spark_job(spark, tmp_path, case):
    """resample_in_space only builds the plan: no route runs a job before
    the caller's action, the rectify pre-downscale included, and a
    store-read cube without a time coordinate counts its planes from
    its shape."""
    from xcube_resampling_spark.gridmapping.distributed import GridMappingDF
    from xcube_resampling_spark.operators.rectify import coords_to_df

    if case.startswith("rectify"):
        ds = create_4x4_dataset_with_irregular_coords(spark)
        gm, target_gm = ds.grid_mapping(), _rectify_target()
        if case == "rectify_downscale_gm_df":
            gm = GridMappingDF.from_coords_df(coords_to_df(spark, gm), gm.crs)
    elif case == "affine":
        ds = create_8x6_dataset_with_regular_coords(spark)
        gm = ds.grid_mapping()
        target_gm = GridMapping.regular((3, 3), (50.0, 10.0), 0.1, gm.crs)
    else:
        ds = (create_5x5_dataset_regular_utm(spark) if case == "reproject"
              else create_2x5x5_dataset_regular_utm(spark))
        if case == "reproject_zarr_no_time_coord":
            ds = _store_read(spark, tmp_path, ds, "band_1", nt=2)
            assert "time" not in ds.coords and "t" not in ds.coords
        gm = ds.grid_mapping()
        target_gm = _EPSG3035_5X5
    n = _jobs_launched(spark, lambda: resample_in_space(
        ds, target_gm=target_gm, source_gm=gm, interp_methods=1
    ))
    assert n == 0
    # the counter sees the jobs of an action
    assert _jobs_launched(spark, lambda: ds.data_vars[
        next(iter(ds.data_vars))
    ].df.count()) > 0


def test_plane_count_reads_the_source_not_the_downscale(spark):
    """A 3-D variable with neither a time coordinate nor a shape has its
    planes counted by a max(t) job.  That job reads the source, never a
    downscaled frame, and runs once per plan: the downscale's output
    carries its shape, so the scatter reads its plane count off that."""
    from xcube_resampling_spark.dataset import SparkDataset
    from xcube_resampling_spark.operators.utils import num_t

    src = create_4x4_dataset_with_irregular_coords(spark)
    rad = src.to_numpy("rad", (4, 4))
    ds = SparkDataset.from_numpy(
        spark,
        data_vars={"rad": (("time", "y", "x"), np.stack([rad, rad + 1]))},
        coords={"lon": src.coords["lon"], "lat": src.coords["lat"]},
        yx_dims=("y", "x"),
    )
    # a hand-built frame: no shape, so num_t falls back to max(t)
    ds.data_vars["rad"] = replace(ds.data_vars["rad"], shape=None)
    gm = ds.grid_mapping()
    one_count = _jobs_launched(
        spark, lambda: num_t(ds, ds.data_vars["rad"])
    )
    assert one_count > 0
    out = []
    n = _jobs_launched(spark, lambda: out.append(resample_in_space(
        ds, target_gm=_rectify_target(), source_gm=gm, interp_methods=1
    )))
    assert n <= one_count
    got = out[0].to_numpy("rad", (2, 2, 2))
    np.testing.assert_almost_equal(got[0], [[7.5, 4.5], [12.5, 9.5]])
    np.testing.assert_almost_equal(got[1], got[0] + 1)


def test_store_read_cube_keeps_a_trailing_empty_plane(spark, tmp_path):
    """A zarr chunk that is not stored is all fill_value; xarray reads
    such a plane as NaN.  The plane count of a store-read cube comes
    from its ``.zarray`` shape, so a trailing plane without chunk files
    comes out all-fill rather than dropped, and planning runs no job."""
    from pyspark.sql import functions as F

    from xcube_resampling_spark.crs import CRS
    from xcube_resampling_spark.sources.zarr import (
        open_zarr_dataset,
        write_zarr_cf,
    )

    crs = CRS.from_epsg(32632)
    gm = GridMapping.regular((8, 8), (565000.0, 5933000.0), 100.0, crs)
    pixels = spark.range(3 * 64).select(
        (F.col("id") / 64).cast("int").alias("t"),
        (F.col("id") % 64 / 8).cast("int").alias("j"),
        (F.col("id") % 8).cast("int").alias("i"),
        F.col("id").cast("double").alias("value"),
    )
    path = tmp_path / "stack.zarr"
    write_zarr_cf(pixels, str(path), "value", gm, nt=3, chunks=(1, 4, 4))
    empty = sorted((path / "value").glob("2.*"))
    assert len(empty) == 4
    for p in empty:
        p.unlink()
    ds, gm = open_zarr_dataset(spark, str(path))
    target_gm = GridMapping.regular((4, 4), (565000.0, 5933000.0), 200.0,
                                    crs)
    out = []
    n = _jobs_launched(spark, lambda: out.append(resample_in_space(
        ds, target_gm, source_gm=gm, interp_methods=0
    )))
    assert n == 0
    var = out[0].data_vars["value"]
    assert var.shape == (3, 4, 4)
    got = out[0].to_numpy("value", var.shape)
    assert var.df.count() == 48
    assert np.isfinite(got[:2]).all()
    assert np.isnan(got[2]).all()


def _dense_shape(var):
    """The shape of the dense array a variable's frame holds, in dims
    order; the frame must hold every pixel of it exactly once."""
    from pyspark.sql import functions as F

    row = var.df.agg(
        F.count("*").alias("n"), F.max("t").alias("t"),
        F.max("j").alias("j"), F.max("i").alias("i"),
    ).collect()[0]
    shape = (row.t + 1, row.j + 1, row.i + 1)
    assert row.n == np.prod(shape)
    return shape if len(var.dims) == 3 else shape[1:]


@pytest.mark.parametrize("route", [
    "affine", "reproject", "reproject_store_read", "rectify",
    "resample_in_time",
])
def test_output_shape_is_the_dense_shape(spark, tmp_path, route):
    """Every operator that changes an extent sets its output's shape."""
    from xcube_resampling_spark.operators.temporal import resample_in_time

    from .sampledata import create_2x8x6_dataset_with_regular_coords

    if route == "affine":
        ds = create_2x8x6_dataset_with_regular_coords(spark)
        out = resample_in_space(ds, GridMapping.regular(
            (3, 3), (50.0, 10.0), 0.1, ds.grid_mapping().crs
        ), interp_methods=1)
        name, want = "refl", (2, 3, 3)
    elif route.startswith("reproject"):
        ds = create_2x5x5_dataset_regular_utm(spark)
        if route == "reproject_store_read":
            ds = _store_read(spark, tmp_path, ds, "band_1", nt=2)
        out = resample_in_space(ds, _EPSG3035_5X5, interp_methods=1)
        name, want = "band_1", (2, 5, 5)
    elif route == "rectify":
        ds = create_4x4_dataset_with_irregular_coords(spark)
        out = resample_in_space(ds, _rectify_target(), interp_methods=1)
        name, want = "rad", (2, 2)
    else:
        ds = create_2x8x6_dataset_with_regular_coords(spark)
        out = resample_in_time(ds, period=10)  # both days, one bin
        name, want = "refl", (1, 6, 8)
    var = out.data_vars[name]
    assert var.shape == want
    assert _dense_shape(var) == want
