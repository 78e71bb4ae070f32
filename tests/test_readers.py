"""Every chunked reader fetches its chunks by key: the driver lists the
keys, ``spark.range`` tasks fetch and decode them (``zarr.fetch_chunks``).
So building a reader's DataFrame launches no Spark job, its plan holds no
Exchange, and a relative path is made absolute on the driver."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from xcube_resampling_spark.sources import (
    FlatKVChunkPut,
    read_geotiff,
    read_hdf5,
    read_netcdf3,
    read_zarr,
    read_zarr3,
    write_geotiff,
    write_zarr,
    write_zarr3,
)
from xcube_resampling_spark.sources.hdf5 import encode_hdf5, read_hdf5_table
from xcube_resampling_spark.sources.netcdf3 import encode_netcdf3

from .test_spatial import _jobs_launched

# more granules/chunks than spark.sql.sources.parallelPartitionDiscovery
# .threshold (32), above which a file-listing read lists in a Spark job
N_KEYS = 36
TABLE_COLUMNS = {"id": "i4", "x": "f8"}


def _raster(spark, w, h, nt=1):
    return spark.range(nt * w * h).select(
        (F.col("id") / (w * h)).cast("int").alias("t"),
        (F.col("id") % (w * h) / w).cast("int").alias("j"),
        (F.col("id") % w).cast("int").alias("i"),
        (F.col("id") * 0.5).cast("double").alias("value"),
    )


@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    """One small store per reader: zarr v2/v3 cubes of 4 x 6 x 6 in
    36 chunks, a 32 x 32 GeoTIFF in 4 tiles, and NetCDF-3 / HDF5 /
    HDF5-table directories of 36 one-row granules."""
    base = tmp_path_factory.mktemp("readers")
    cube = _raster(spark, 6, 6, nt=4)
    write_zarr(cube, str(base / "zarr2"), "v", (4, 6, 6), (1, 2, 2))
    write_zarr3(cube, str(base / "zarr3"), "v", (4, 6, 6), (1, 2, 2))
    write_zarr3(cube, "ignored", "v", (4, 6, 6), (1, 2, 2),
                chunk_put=FlatKVChunkPut(str(base / "kv3")))
    write_geotiff(_raster(spark, 32, 32), str(base / "img.tif"), (32, 32),
                  crs="EPSG:32633", xy_min=(0.0, 0.0), xy_res=10.0,
                  tile_size=16, dtype="float64")
    for d in ("nc", "h5", "table"):
        (base / d).mkdir()
    rec_dtype = np.dtype([(c, d) for c, d in TABLE_COLUMNS.items()])
    for k in range(N_KEYS):
        row = np.full((1, 3), float(k))
        (base / "nc" / f"part-{k:05d}.nc").write_bytes(encode_netcdf3(
            "v", row, ("y", "x"), global_attrs={"j_offset": k}))
        (base / "h5" / f"part-{k}.h5").write_bytes(encode_hdf5(
            "v", row, ("y", "x"), global_attrs={"j_offset": k}))
        rec = np.array([(k, 0.5 * k)], dtype=rec_dtype)
        (base / "table" / f"part-{k}.h5").write_bytes(
            encode_hdf5("table", rec, ("row",)))
    return base


# reader -> (read(spark, root), rows)
READERS = {
    "zarr": (lambda spark, r: read_zarr(
        spark, os.path.join(r, "zarr2"), "v"), 144),
    "zarr3": (lambda spark, r: read_zarr3(
        spark, os.path.join(r, "zarr3"), "v"), 144),
    "zarr3_store": (lambda spark, r: read_zarr3(
        spark, "ignored", "v",
        store=FlatKVChunkPut(os.path.join(r, "kv3"))), 144),
    "geotiff": (lambda spark, r: read_geotiff(
        spark, os.path.join(r, "img.tif")), 32 * 32),
    "netcdf3": (lambda spark, r: read_netcdf3(
        spark, os.path.join(r, "nc"), "v"), 3 * N_KEYS),
    "hdf5": (lambda spark, r: read_hdf5(
        spark, os.path.join(r, "h5"), "v"), 3 * N_KEYS),
    "hdf5_table": (lambda spark, r: read_hdf5_table(
        spark, os.path.join(r, "table"), TABLE_COLUMNS), N_KEYS),
}


@pytest.mark.parametrize("reader", ["zarr3", "netcdf3", "hdf5",
                                    "hdf5_table"])
def test_reader_launches_no_spark_job(spark, root, reader):
    """More chunk files / granules than the parallel-listing threshold:
    building the DataFrame lists them on the driver, in no Spark job."""
    read, rows = READERS[reader]
    built = []
    assert _jobs_launched(spark, lambda: built.append(
        read(spark, str(root)))) == 0
    assert built[0].count() == rows


@pytest.mark.parametrize("reader", ["zarr", "zarr3", "zarr3_store",
                                    "geotiff", "netcdf3", "hdf5"])
def test_reader_plan_has_no_exchange(spark, root, reader):
    """The fetch tasks come from ``spark.range``: no round-robin
    repartition of a task list, no shuffle of any kind."""
    read, _ = READERS[reader]
    plan = read(spark, str(root))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


@pytest.mark.parametrize("reader", ["zarr", "zarr3", "geotiff", "netcdf3",
                                    "hdf5", "hdf5_table"])
def test_relative_path_is_made_absolute_on_the_driver(
        spark, root, reader, monkeypatch):
    """Executors do not share the driver's working directory: a path
    relative to the driver's cwd still reads after the driver moved."""
    read, rows = READERS[reader]
    monkeypatch.chdir(root)
    assert read(spark, "").count() == rows
