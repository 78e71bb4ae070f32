"""Test fixture factory -- SparkDataset equivalents of the reference's
synthetic datasets (/root/reference/tests/sampledata.py, see FIXTURES.md)."""

import numpy as np

from xcube_resampling_spark.crs import CRS
from xcube_resampling_spark.dataset import SparkDataset


def create_2x2_dataset_with_irregular_coords(spark) -> SparkDataset:
    """F1 (reference sampledata.py:29-39)."""
    lon = np.array([[1.0, 6.0], [0.0, 2.0]])
    lat = np.array([[56.0, 53.0], [52.0, 50.0]])
    rad = np.array([[1.0, 2.0], [3.0, 4.0]])
    return SparkDataset.from_numpy(
        spark,
        data_vars={"rad": (("y", "x"), rad)},
        coords={"lon": lon, "lat": lat},
        yx_dims=("y", "x"),
    )


def create_2x2x2_dataset_with_irregular_coords(spark) -> SparkDataset:
    """F2 (reference sampledata.py:42-57)."""
    lon = np.array([[1.0, 6.0], [0.0, 2.0]])
    lat = np.array([[56.0, 53.0], [52.0, 50.0]])
    rad = np.array([[[1.0, 2.0], [3.0, 4.0]], [[1.0, 2.0], [3.0, 4.0]]])
    time = np.array(["2025-08-01", "2025-08-02"], dtype="datetime64[D]")
    return SparkDataset.from_numpy(
        spark,
        data_vars={
            "rad": (("time", "y", "x"), rad),
            "time_series": (("time",), np.array([1, 2])),
        },
        coords={"lon": lon, "lat": lat, "time": time},
        yx_dims=("y", "x"),
    )


REFL_8X6 = np.array(
    [
        [0, 1, 0, 2, 0, 3, 0, 4],
        [2, 0, 3, 0, 4, 0, 1, 0],
        [0, 4, 0, np.nan, 0, 2, 0, 3],
        [1, 0, 2, 0, 3, 0, 4, 0],
        [0, 3, 0, 4, 0, 1, 0, 2],
        [4, 0, 1, 0, 2, 0, 3, 0],
    ],
    dtype=np.float64,
)


def create_8x6_dataset_with_regular_coords(spark) -> SparkDataset:
    """F3 (reference sampledata.py:60-83)."""
    res = 0.1
    return SparkDataset.from_numpy(
        spark,
        data_vars={"refl": (("lat", "lon"), REFL_8X6)},
        coords={
            "lon": 50.0 + res * np.arange(0, 8) + 0.5 * res,
            "lat": 10.6 - res * np.arange(0, 6) - 0.5 * res,
        },
        yx_dims=("lat", "lon"),
    )


def create_2x8x6_dataset_with_regular_coords(spark) -> SparkDataset:
    """F4 (reference sampledata.py:86-92)."""
    res = 0.1
    arr3d = np.repeat(REFL_8X6[np.newaxis, :, :], 2, axis=0)
    time = np.array(["2025-08-01", "2025-08-02"], dtype="datetime64[D]")
    return SparkDataset.from_numpy(
        spark,
        data_vars={"refl": (("time", "lat", "lon"), arr3d)},
        coords={
            "lon": 50.0 + res * np.arange(0, 8) + 0.5 * res,
            "lat": 10.6 - res * np.arange(0, 6) - 0.5 * res,
            "time": time,
        },
        yx_dims=("lat", "lon"),
    )


def create_5x5_dataset_regular_utm(spark) -> SparkDataset:
    """F5 (reference sampledata.py:95-109)."""
    x = np.arange(565300.0, 565800.0, 100.0)
    y = np.arange(5934300.0, 5933800.0, -100.0)
    band_1 = np.arange(25, dtype=np.int64).reshape((5, 5))
    return SparkDataset.from_numpy(
        spark,
        data_vars={"band_1": (("y", "x"), band_1)},
        coords={"x": x, "y": y, "spatial_ref": np.array(0)},
        coord_attrs={"spatial_ref": CRS.from_epsg(32632).to_cf()},
        var_attrs={"band_1": {"grid_mapping": "spatial_ref"}},
        yx_dims=("y", "x"),
    )


def create_2x5x5_dataset_regular_utm(spark) -> SparkDataset:
    """F6 (reference sampledata.py:112-128)."""
    x = np.arange(565300.0, 565800.0, 100.0)
    y = np.arange(5934300.0, 5933800.0, -100.0)
    band_1 = np.arange(25, dtype=np.int64).reshape((5, 5))
    band_1 = np.repeat(band_1[np.newaxis, :, :], 2, axis=0)
    time = np.array(["2025-08-01", "2025-08-02"], dtype="datetime64[D]")
    return SparkDataset.from_numpy(
        spark,
        data_vars={"band_1": (("time", "y", "x"), band_1)},
        coords={"x": x, "y": y, "time": time, "spatial_ref": np.array(0)},
        coord_attrs={"spatial_ref": CRS.from_epsg(32632).to_cf()},
        var_attrs={"band_1": {"grid_mapping": "spatial_ref"}},
        yx_dims=("y", "x"),
    )


def create_large_dataset_for_reproject(spark) -> SparkDataset:
    """F7 (reference sampledata.py:131-157)."""
    nt, nx, ny = 10, 100, 100
    x = np.linspace(3900000, 4500000, nx)
    y = np.linspace(2600000, 3200000, ny)
    temp = np.arange(nt * nx * ny, dtype=np.float32).reshape(nt, nx, ny)
    time = np.arange(
        np.datetime64("2023-01-01"), np.datetime64("2023-01-11")
    )
    return SparkDataset.from_numpy(
        spark,
        data_vars={
            "temperature": (("time", "y", "x"), temp),
            "onedim_data": (("time",), np.arange(nt)),
        },
        coords={"x": x, "y": y, "time": time, "spatial_ref": np.array(0)},
        coord_attrs={"spatial_ref": CRS.from_epsg(3035).to_cf()},
        var_attrs={"temperature": {"grid_mapping": "spatial_ref"}},
        yx_dims=("y", "x"),
    )


def create_2x2_dataset_with_irregular_coords_antimeridian(spark) -> SparkDataset:
    """F8 (reference sampledata.py:160-172)."""
    lon = np.array([[+179.0, -176.0], [+178.0, +180.0]])
    lat = np.array([[56.0, 53.0], [52.0, 50.0]])
    rad = np.array([[1.0, 2.0], [3.0, 4.0]])
    return SparkDataset.from_numpy(
        spark,
        data_vars={"rad": (("y", "x"), rad)},
        coords={"lon": lon, "lat": lat},
        yx_dims=("y", "x"),
    )


def create_4x4_dataset_with_irregular_coords(spark) -> SparkDataset:
    """F9 (reference sampledata.py:175-208)."""
    lon = np.array(
        [
            [1.0, 2.0, 3.0, 4.0],
            [0.0, 1.0, 2.0, 3.0],
            [-1.0, 0.0, 1.0, 2.0],
            [-2.0, -1.0, 0.0, 1.0],
        ]
    )
    lat = np.array(
        [
            [56.0, 55.0, 54.0, 53.0],
            [55.0, 54.0, 53.0, 52.0],
            [54.0, 53.0, 52.0, 51.0],
            [53.0, 52.0, 51.0, 50.0],
        ]
    )
    rad = np.arange(1.0, 17.0).reshape((4, 4))
    return SparkDataset.from_numpy(
        spark,
        data_vars={"rad": (("y", "x"), rad)},
        coords={"lon": lon, "lat": lat},
        yx_dims=("y", "x"),
    )


def long_pixels_df(spark, base, num_t, nan_px, null_px, absent_px):
    """Long (t, j, i, value) rows of a num_t-plane stack, plane t = base + t.

    Built from Python tuples, because pandas would turn the genuine NaN
    into a SQL NULL.  Every plane has a genuine NaN at pixel ``nan_px``
    and a SQL NULL at ``null_px``; the last plane has no row at the
    ``absent_px`` pixels.
    """
    h, w = base.shape
    rows = [
        (t, j, i, None if (j, i) == null_px
         else float("nan") if (j, i) == nan_px
         else float(base[j, i] + t))
        for t in range(num_t)
        for j in range(h)
        for i in range(w)
        if t < num_t - 1 or (j, i) not in absent_px
    ]
    return spark.createDataFrame(rows, "t int, j int, i int, value double")
