"""Zarr v2 source/sink: distributed chunk write, chunk-pruned read by
key, edge-chunk padding, zlib + raw codecs, interop with a hand-written
store, and the open/read paths launching no Spark job."""

import json
import os
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from xcube_resampling_spark.sources import read_zarr, write_zarr


def _raster(spark, w, h, nt=1):
    return spark.range(nt * w * h).select(
        (F.col("id") / (w * h)).cast("int").alias("t"),
        (F.col("id") % (w * h) / w).cast("int").alias("j"),
        (F.col("id") % w).cast("int").alias("i"),
        (F.col("id") * 0.5).cast("double").alias("value"),
    )


class TestZarrRoundtrip:
    @pytest.mark.parametrize(
        "compressor", ["zlib", "null", "blosc-lz4", "lz4"])
    def test_2d_roundtrip_edge_chunks(self, spark, tmp_path, compressor):
        """25x17 array with 8x8 chunks: edge chunks are stored padded and
        clipped back on read."""
        w, h = 25, 17
        df = _raster(spark, w, h)
        path = str(tmp_path / f"store_{compressor}")
        write_zarr(df, path, "v", (h, w), (8, 8), compressor=compressor)
        got = read_zarr(spark, path, "v").toPandas().sort_values(
            ["t", "j", "i"]
        )
        exp = df.toPandas().sort_values(["t", "j", "i"])
        assert len(got) == w * h
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy()
        )

    def test_3d_roundtrip(self, spark, tmp_path):
        w, h, nt = 10, 9, 3
        df = _raster(spark, w, h, nt)
        path = str(tmp_path / "store3d")
        write_zarr(df, path, "v", (nt, h, w), (2, 4, 4))
        got = read_zarr(spark, path, "v").toPandas().sort_values(
            ["t", "j", "i"]
        )
        exp = df.toPandas().sort_values(["t", "j", "i"])
        assert len(got) == nt * w * h
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy()
        )

    def test_bbox_prunes_chunk_files(self, spark, tmp_path):
        """The window read fetches only the chunks intersecting the
        window (chunk pruning ~ partition pruning): the 12 chunks outside
        it hold garbage bytes, which zlib would refuse to decode."""
        w, h = 32, 32
        df = _raster(spark, w, h)
        path = str(tmp_path / "store_bbox")
        write_zarr(df, path, "v", (h, w), (8, 8))
        # only the 4 chunks covering j,i in [4,12) stay readable
        outside = [
            f"{kj}.{ki}" for kj in range(4) for ki in range(4)
            if kj > 1 or ki > 1
        ]
        assert len(outside) == 12
        for key in outside:
            with open(os.path.join(path, "v", key), "wb") as fp:
                fp.write(b"not a zlib stream")
        out = read_zarr(spark, path, "v", bbox_ij=(4, 4, 12, 12))
        pdf = out.toPandas()
        assert len(pdf) == 64
        assert pdf["i"].between(4, 11).all()
        assert pdf["j"].between(4, 11).all()
        exp = (
            df.filter(
                (F.col("i") >= 4) & (F.col("i") < 12)
                & (F.col("j") >= 4) & (F.col("j") < 12)
            ).toPandas().sort_values(["j", "i"])
        )
        got = pdf.sort_values(["j", "i"])
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy()
        )

    def test_reads_externally_written_store(self, spark, tmp_path):
        """Interop: a store written by hand to the public v2 spec (not by
        write_zarr) decodes correctly, including <f4 dtype."""
        path = tmp_path / "ext"
        adir = path / "arr"
        adir.mkdir(parents=True)
        data = np.arange(30, dtype="<f4").reshape(5, 6)
        (path / ".zgroup").write_text(json.dumps({"zarr_format": 2}))
        (adir / ".zarray").write_text(
            json.dumps(
                {
                    "zarr_format": 2,
                    "shape": [5, 6],
                    "chunks": [3, 4],
                    "dtype": "<f4",
                    "compressor": {"id": "zlib", "level": 1},
                    "fill_value": "NaN",
                    "order": "C",
                    "filters": None,
                }
            )
        )
        for kj in range(2):
            for ki in range(2):
                block = np.full((3, 4), np.nan, dtype="<f4")
                js = slice(kj * 3, min(5, kj * 3 + 3))
                is_ = slice(ki * 4, min(6, ki * 4 + 4))
                block[: js.stop - js.start, : is_.stop - is_.start] = (
                    data[js, is_]
                )
                (adir / f"{kj}.{ki}").write_bytes(
                    zlib.compress(block.tobytes(), 1)
                )
        got = read_zarr(spark, str(path), "arr").toPandas().sort_values(
            ["j", "i"]
        )
        assert len(got) == 30
        np.testing.assert_array_equal(
            got["value"].to_numpy(), data.ravel().astype("f8")
        )

    def test_blosc_roundtrip(self, spark, tmp_path):
        w, h = 25, 17
        df = _raster(spark, w, h)
        path = str(tmp_path / "store_blosc")
        write_zarr(df, path, "v", (h, w), (8, 8), compressor="blosc")
        meta = json.loads(
            open(os.path.join(path, "v", ".zarray")).read()
        )
        assert meta["compressor"]["id"] == "blosc"
        got = read_zarr(spark, path, "v").toPandas().sort_values(
            ["t", "j", "i"]
        )
        exp = df.toPandas().sort_values(["t", "j", "i"])
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy()
        )

    def test_reads_externally_written_blosc_store(self, spark, tmp_path):
        """Interop: blosc chunks framed BY HAND to the public c-blosc
        layout -- split byte-plane streams (dont-split flag CLEAR, one
        zlib stream per byte of the typesize, as real c-blosc writes
        shuffled f8 blocks) -- not by our own encoder."""
        import struct

        path = tmp_path / "extb"
        adir = path / "arr"
        adir.mkdir(parents=True)
        data = np.arange(24, dtype="<f8").reshape(4, 6)
        (path / ".zgroup").write_text(json.dumps({"zarr_format": 2}))
        (adir / ".zarray").write_text(
            json.dumps(
                {
                    "zarr_format": 2,
                    "shape": [4, 6],
                    "chunks": [4, 6],
                    "dtype": "<f8",
                    "compressor": {
                        "id": "blosc", "cname": "zlib", "clevel": 5,
                        "shuffle": 1, "blocksize": 0,
                    },
                    "fill_value": "NaN",
                    "order": "C",
                    "filters": None,
                }
            )
        )
        raw = data.tobytes()
        typesize = 8
        nel = len(raw) // typesize
        shuffled = (
            np.frombuffer(raw, dtype=np.uint8)
            .reshape(nel, typesize).T.reshape(-1).tobytes()
        )
        streams = []
        for plane in range(typesize):  # one stream per byte plane
            part = shuffled[plane * nel:(plane + 1) * nel]
            comp = zlib.compress(part, 5)
            if len(comp) >= len(part):
                comp = part
            streams.append(struct.pack("<i", len(comp)) + comp)
        body = b"".join(streams)
        # flags: shuffle | zlib codec, dont-split CLEAR -> split decode
        header = struct.pack(
            "<BBBBIII", 2, 1, 0x1 | (3 << 5), typesize,
            len(raw), len(raw), 16 + 4 + len(body),
        )
        bstarts = struct.pack("<I", 20)
        (adir / "0.0").write_bytes(header + bstarts + body)
        got = read_zarr(spark, str(path), "arr").toPandas().sort_values(
            ["j", "i"]
        )
        assert len(got) == 24
        np.testing.assert_array_equal(
            got["value"].to_numpy(), data.ravel()
        )

    def test_blosc_foreign_codec_rejected_clearly(self):
        """A compressed stream of a codec this build lacks (snappy,
        id 2) must raise NotImplementedError, not mis-decode; a
        malformed stream of a supported codec (lz4, id 1) must raise
        ValueError, not return garbage."""
        import struct

        from xcube_resampling_spark.sources import blosc1

        body = struct.pack("<i", 3) + b"\x01\x02\x03"
        frame_snappy = (
            struct.pack("<BBBBIII", 2, 1, (2 << 5) | 0x10, 1, 64, 64,
                        16 + 4 + len(body))
            + struct.pack("<I", 20) + body
        )
        with pytest.raises(NotImplementedError, match="snappy"):
            blosc1.decode(frame_snappy)
        frame_lz4 = (
            struct.pack("<BBBBIII", 2, 1, (1 << 5) | 0x10, 1, 64, 64,
                        16 + 4 + len(body))
            + struct.pack("<I", 20) + body
        )
        with pytest.raises(ValueError):
            blosc1.decode(frame_lz4)

    def test_zattrs_dimensions(self, spark, tmp_path):
        w, h = 6, 5
        path = str(tmp_path / "attrs")
        write_zarr(
            _raster(spark, w, h), path, "v", (h, w), (5, 5),
            attrs={"units": "K"},
        )
        attrs = json.loads(
            open(os.path.join(path, "v", ".zattrs")).read()
        )
        assert attrs["_ARRAY_DIMENSIONS"] == ["y", "x"]
        assert attrs["units"] == "K"


class TestZarrRealism:
    """Packed dtypes, CF unpacking, and consolidated metadata -- the
    shapes real satellite zarr cubes have."""

    @pytest.mark.parametrize("dtype_s", ["<i2", "<u2", "|u1", ">f4", ">i4"])
    def test_packed_dtypes_decode(self, spark, tmp_path, dtype_s):
        path = tmp_path / f"dt_{dtype_s.replace('<','l').replace('>','b').replace('|','n')}"
        adir = path / "arr"
        adir.mkdir(parents=True)
        data = np.arange(20).reshape(4, 5).astype(np.dtype(dtype_s))
        (adir / ".zarray").write_text(json.dumps({
            "zarr_format": 2, "shape": [4, 5], "chunks": [4, 5],
            "dtype": dtype_s, "compressor": None, "fill_value": 0,
            "order": "C", "filters": None,
        }))
        (adir / "0.0").write_bytes(data.tobytes())
        got = read_zarr(spark, str(path), "arr").toPandas().sort_values(
            ["j", "i"]
        )
        np.testing.assert_array_equal(
            got["value"].to_numpy(), np.arange(20, dtype="f8")
        )

    def test_unsupported_dtype_rejected(self, spark, tmp_path):
        path = tmp_path / "dtbad"
        adir = path / "arr"
        adir.mkdir(parents=True)
        (adir / ".zarray").write_text(json.dumps({
            "zarr_format": 2, "shape": [1], "chunks": [1],
            "dtype": "<U4", "compressor": None, "fill_value": 0,
            "order": "C", "filters": None,
        }))
        with pytest.raises(NotImplementedError, match="dtype"):
            read_zarr(spark, str(path), "arr")

    def test_decode_cf_scale_offset_fill(self, spark, tmp_path):
        """Packed i2 with CF attributes: _FillValue -> NaN, then
        scale_factor / add_offset -- xarray decode_cf semantics."""
        path = tmp_path / "cf"
        adir = path / "sst"
        adir.mkdir(parents=True)
        raw = np.array([[0, 100, -32768], [200, -32768, 300]], dtype="<i2")
        (adir / ".zarray").write_text(json.dumps({
            "zarr_format": 2, "shape": [2, 3], "chunks": [2, 3],
            "dtype": "<i2", "compressor": None, "fill_value": None,
            "order": "C", "filters": None,
        }))
        (adir / ".zattrs").write_text(json.dumps({
            "_ARRAY_DIMENSIONS": ["y", "x"],
            "_FillValue": -32768, "scale_factor": 0.01,
            "add_offset": 273.15, "units": "K",
        }))
        (adir / "0.0").write_bytes(raw.tobytes())
        got = read_zarr(
            spark, str(path), "sst", decode_cf=True
        ).toPandas().sort_values(["j", "i"])
        vals = got["value"].to_numpy()
        exp = np.where(raw == -32768, np.nan, raw * 0.01 + 273.15).ravel()
        np.testing.assert_allclose(vals, exp, equal_nan=True)
        # without decode_cf the packed integers come back verbatim
        rawback = read_zarr(spark, str(path), "sst").toPandas()
        assert rawback["value"].min() == -32768.0

    def test_writer_emits_consolidated_metadata(self, spark, tmp_path):
        w, h = 9, 7
        path = str(tmp_path / "cons")
        write_zarr(_raster(spark, w, h), path, "v", (h, w), (4, 4))
        zm = json.loads(open(os.path.join(path, ".zmetadata")).read())
        assert zm["zarr_consolidated_format"] == 1
        assert "v/.zarray" in zm["metadata"]
        assert zm["metadata"]["v/.zattrs"]["_ARRAY_DIMENSIONS"] == ["y", "x"]
        # a second variable merges, not clobbers
        write_zarr(_raster(spark, w, h), path, "v2", (h, w), (4, 4))
        zm = json.loads(open(os.path.join(path, ".zmetadata")).read())
        assert "v/.zarray" in zm["metadata"]
        assert "v2/.zarray" in zm["metadata"]

    def test_read_uses_consolidated_metadata(self, spark, tmp_path):
        """With .zmetadata present, per-array JSON files are not opened
        at plan time (deleted here to prove it) -- the object-store
        single-GET path."""
        w, h = 8, 6
        path = str(tmp_path / "consread")
        write_zarr(_raster(spark, w, h), path, "v", (h, w), (4, 4))
        os.remove(os.path.join(path, "v", ".zarray"))
        got = read_zarr(spark, path, "v").toPandas()
        assert len(got) == w * h

    def test_stale_zmetadata_falls_back_to_per_array_json(
        self, spark, tmp_path
    ):
        """An array missing from a stale .zmetadata (consolidated before
        the array was written) must still be readable via its own
        .zarray/.zattrs files."""
        w, h = 8, 6
        path = str(tmp_path / "stale")
        write_zarr(_raster(spark, w, h), path, "v", (h, w), (4, 4))
        write_zarr(_raster(spark, w, h), path, "v2", (h, w), (4, 4))
        # regress .zmetadata to a version that predates v2
        zm = json.loads(open(os.path.join(path, ".zmetadata")).read())
        zm["metadata"] = {
            k: v for k, v in zm["metadata"].items()
            if not k.startswith("v2/")
        }
        open(os.path.join(path, ".zmetadata"), "w").write(json.dumps(zm))
        got = read_zarr(spark, path, "v2").toPandas()
        assert len(got) == w * h

    def test_vector_missing_value_decodes(self, spark, tmp_path):
        """CF-legal vector-valued missing_value: every listed value
        becomes NaN under decode_cf."""
        path = tmp_path / "vecfill"
        adir = path / "sst"
        adir.mkdir(parents=True)
        raw = np.array([[0, -9999, 100], [-8888, 200, 300]], dtype="<i4")
        (adir / ".zarray").write_text(json.dumps({
            "zarr_format": 2, "shape": [2, 3], "chunks": [2, 3],
            "dtype": "<i4", "compressor": None, "fill_value": None,
            "order": "C", "filters": None,
        }))
        (adir / ".zattrs").write_text(json.dumps({
            "_ARRAY_DIMENSIONS": ["y", "x"],
            "missing_value": [-9999, -8888], "scale_factor": 0.5,
        }))
        (adir / "0.0").write_bytes(raw.tobytes())
        got = read_zarr(
            spark, str(path), "sst", decode_cf=True
        ).toPandas().sort_values(["j", "i"])
        exp = np.where(
            np.isin(raw, [-9999, -8888]), np.nan, raw * 0.5
        ).ravel()
        np.testing.assert_allclose(
            got["value"].to_numpy(), exp, equal_nan=True
        )


class TestCfStore:
    """write_zarr_cf / add_spatial_ref: xarray-openable CF stores
    (parity: reference cfconv.py:320-358 add_spatial_ref on zarr)."""

    def _gm(self):
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping

        return GridMapping.regular(
            (16, 12), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632)
        )

    def test_open_launches_no_spark_job(self, spark, tmp_path):
        """open_zarr_dataset fetches chunks by key: a store with more
        chunk files than Spark's parallel-listing threshold (32) opens
        without a file-listing job, and its variable carries the
        store's shape."""
        from xcube_resampling_spark.sources import (
            open_zarr_dataset,
            write_zarr_cf,
        )

        from .test_spatial import _jobs_launched

        path = str(tmp_path / "cfstore")
        write_zarr_cf(_raster(spark, 16, 12, nt=3), path, "band",
                      self._gm(), nt=3, chunks=(1, 4, 4))
        chunk_files = [n for n in os.listdir(os.path.join(path, "band"))
                       if not n.startswith(".")]
        assert len(chunk_files) == 36
        opened = []
        n = _jobs_launched(
            spark, lambda: opened.append(open_zarr_dataset(spark, path)))
        assert n == 0
        var = opened[0][0].data_vars["band"]
        assert var.shape == (3, 12, 16)
        assert var.df.count() == 3 * 12 * 16

    def test_store_layout_is_xarray_convention(self, spark, tmp_path):
        from xcube_resampling_spark.sources import write_zarr_cf

        gm = self._gm()
        path = str(tmp_path / "cfstore")
        write_zarr_cf(_raster(spark, 16, 12), path, "band", gm)

        # data var: dims + grid_mapping pointer
        va = json.load(open(os.path.join(path, "band", ".zattrs")))
        assert va["_ARRAY_DIMENSIONS"] == ["y", "x"]
        assert va["grid_mapping"] == "spatial_ref"

        # 1-D coords: raw float64 little-endian cell centers
        xa = json.load(open(os.path.join(path, "x", ".zarray")))
        assert xa["shape"] == [16] and xa["compressor"] is None
        x = np.frombuffer(
            open(os.path.join(path, "x", "0"), "rb").read(), "<f8")
        np.testing.assert_allclose(x, np.asarray(gm.x_coords))
        ya = json.load(open(os.path.join(path, "y", ".zattrs")))
        assert ya["_ARRAY_DIMENSIONS"] == ["y"]
        y = np.frombuffer(
            open(os.path.join(path, "y", "0"), "rb").read(), "<f8")
        np.testing.assert_allclose(y, np.asarray(gm.y_coords))

        # spatial_ref: 0-d int var whose attrs rebuild the CRS
        from xcube_resampling_spark.crs import CRS

        sa = json.load(open(os.path.join(path, "spatial_ref", ".zattrs")))
        assert sa["_ARRAY_DIMENSIONS"] == []
        assert "crs_wkt" in sa
        back = CRS.from_cf(sa)
        assert back.kind == "tmerc"
        assert back.param("lon_0") == 9.0

        # everything consolidated
        meta = json.load(open(os.path.join(path, ".zmetadata")))["metadata"]
        for k in ("band/.zarray", "x/.zarray", "y/.zarray",
                  "spatial_ref/.zattrs"):
            assert k in meta, k

    def test_data_still_readable_by_engine(self, spark, tmp_path):
        from xcube_resampling_spark.sources import write_zarr_cf

        gm = self._gm()
        path = str(tmp_path / "cfstore2")
        df = _raster(spark, 16, 12)
        write_zarr_cf(df, path, "band", gm)
        got = read_zarr(spark, path, "band").toPandas().sort_values(
            ["t", "j", "i"])
        exp = df.toPandas().sort_values(["t", "j", "i"])
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy())

    def test_add_spatial_ref_existing_store_any_crs_input(
            self, spark, tmp_path):
        from xcube_resampling_spark.sources import (
            add_spatial_ref_zarr, write_zarr)
        from xcube_resampling_spark.crs import CRS

        path = str(tmp_path / "plainstore")
        write_zarr(_raster(spark, 8, 6), path, "v", (6, 8), (6, 8))
        # CRS given as a PROJ string -- from_user_input surface
        add_spatial_ref_zarr(path, "+proj=utm +zone=32 +datum=WGS84")
        va = json.load(open(os.path.join(path, "v", ".zattrs")))
        assert va["grid_mapping"] == "spatial_ref"
        sa = json.load(open(os.path.join(path, "spatial_ref", ".zattrs")))
        assert CRS.from_cf(sa).kind == "tmerc"
        meta = json.load(open(os.path.join(path, ".zmetadata")))["metadata"]
        assert "spatial_ref/.zattrs" in meta
        assert meta["v/.zattrs"]["grid_mapping"] == "spatial_ref"

    def test_3d_cube_with_time_axis(self, spark, tmp_path):
        from xcube_resampling_spark.sources import write_zarr_cf

        gm = self._gm()
        path = str(tmp_path / "cfstore3d")
        write_zarr_cf(_raster(spark, 16, 12, nt=3), path, "band", gm,
                      nt=3)
        va = json.load(open(os.path.join(path, "band", ".zattrs")))
        assert va["_ARRAY_DIMENSIONS"] == ["t", "y", "x"]
        za = json.load(open(os.path.join(path, "band", ".zarray")))
        assert za["shape"] == [3, 12, 16]

    def test_grid_mapping_roundtrip_and_resample(self, spark, tmp_path):
        """Full user workflow: write a CF store, reopen it cold (data +
        grid mapping from the store alone), downscale 2x through the
        affine operator -- the reference's open_zarr -> resample loop."""
        from xcube_resampling_spark.dataset import SparkDataset, Variable
        from xcube_resampling_spark.operators.affine import (
            affine_transform_dataset)
        from xcube_resampling_spark.sources import (
            read_zarr, read_zarr_grid_mapping, write_zarr_cf)

        gm = self._gm()
        path = str(tmp_path / "cfrt")
        write_zarr_cf(_raster(spark, 16, 12), path, "band", gm)

        gm2 = read_zarr_grid_mapping(path)
        assert gm2 is not None
        assert gm2.crs.kind == "tmerc"
        np.testing.assert_allclose(
            np.asarray(gm2.x_coords), np.asarray(gm.x_coords))
        assert gm2.size == gm.size

        pixels = read_zarr(spark, path, "band")
        src = SparkDataset(
            spark=spark,
            data_vars={"band": Variable(
                "band", pixels, ("y", "x"), "float64", {})},
            coords={"x": np.asarray(gm2.x_coords),
                    "y": np.asarray(gm2.y_coords)},
            yx_dims=("y", "x"),
        )
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping

        target = GridMapping.regular(
            (8, 6), (500000.0, 5000000.0), 200.0, gm2.crs)
        out = affine_transform_dataset(
            src, target, source_gm=gm2, agg_methods="mean")
        got = out.data_vars["band"].df.toPandas()
        assert len(got) == 48
        # 2x2 mean of the linear ramp: top-left window mean
        tl = got[(got.j == 0) & (got.i == 0)]["value"].iloc[0]
        base = _raster(spark, 16, 12).toPandas()
        manual = base[(base.j < 2) & (base.i < 2)]["value"].mean()
        assert abs(tl - manual) < 1e-9

    def test_open_zarr_dataset_resample_in_space(self, spark, tmp_path):
        """The reference's two-liner: open the cube, resample it --
        open_zarr_dataset feeds resample_in_space with no manual
        plumbing."""
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.operators.spatial import (
            resample_in_space)
        from xcube_resampling_spark.sources import (
            open_zarr_dataset, write_zarr_cf)

        gm = self._gm()
        path = str(tmp_path / "cfopen")
        write_zarr_cf(_raster(spark, 16, 12), path, "band", gm,
                      attrs={"units": "K"})

        ds, gm2 = open_zarr_dataset(spark, path)
        assert list(ds.data_vars) == ["band"]
        assert ds.data_vars["band"].attrs.get("units") == "K"
        assert ds.data_vars["band"].attrs.get("grid_mapping") \
            == "spatial_ref"

        target = GridMapping.regular(
            (8, 6), (500000.0, 5000000.0), 200.0, CRS.from_epsg(32632))
        out = resample_in_space(ds, target, source_gm=gm2,
                                agg_methods="mean")
        got = out.data_vars["band"].df.toPandas()
        assert len(got) == 48


class TestChunkStores:
    """Non-filesystem chunk stores: the zipped-zarr input and the
    generic object-store adapter (VERDICT r5 gaps #5/#6).  The
    contract a real S3 client must satisfy is exactly what these
    exercise: opaque keys, put/get/known_keys, picklable."""

    def _zip_store(self, spark, tmp_path, wrap=True):
        import zipfile

        from xcube_resampling_spark.sources import write_zarr_cf
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping

        gm = GridMapping.regular(
            (16, 12), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632))
        path = str(tmp_path / "plain_store")
        write_zarr_cf(_raster(spark, 16, 12), path, "band", gm,
                      attrs={"units": "K"})
        zpath = str(tmp_path / "store.zarr.zip")
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(path):
                for f in files:
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, path)
                    # optionally wrap under a top-level dir, the common
                    # "zip -r store.zip store/" layout
                    arc = os.path.join("store", rel) if wrap else rel
                    zf.write(full, arc)
        return zpath, gm

    @pytest.mark.parametrize("wrap", [True, False])
    def test_zip_store_roundtrip(self, spark, tmp_path, wrap):
        from xcube_resampling_spark.sources import ZipChunkStore, read_zarr

        zpath, _gm = self._zip_store(spark, tmp_path, wrap=wrap)
        store = ZipChunkStore(zpath)
        got = read_zarr(spark, "ignored", "band", store=store) \
            .toPandas().sort_values(["t", "j", "i"])
        exp = _raster(spark, 16, 12).toPandas().sort_values(
            ["t", "j", "i"])
        assert len(got) == 16 * 12
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy())

    def test_zip_store_open_and_resample(self, spark, tmp_path):
        """Open a zipped CF store and rectify/resample it -- the
        reference examples' zipped-store workflow end-to-end."""
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.operators.spatial import (
            resample_in_space)
        from xcube_resampling_spark.sources import (
            ZipChunkStore, open_zarr_dataset)

        from xcube_resampling_spark.operators.affine import (
            affine_transform_dataset)

        zpath, gm = self._zip_store(spark, tmp_path)
        store = ZipChunkStore(zpath)
        ds, gm2 = open_zarr_dataset(spark, zpath, store=store)
        assert list(ds.data_vars) == ["band"]
        assert ds.data_vars["band"].attrs.get("units") == "K"
        assert gm2.size == gm.size
        assert gm2.xy_bbox == gm.xy_bbox
        assert gm2.crs.kind == gm.crs.kind
        # same-CRS downscale through the explicit affine operator: the
        # 2x2 mean is exactly checkable (resample_in_space would route
        # to reproject because the CF-roundtripped CRS name differs)
        target = GridMapping.regular(
            (8, 6), (500000.0, 5000000.0), 200.0, gm2.crs)
        out = affine_transform_dataset(
            ds, target, source_gm=gm2, agg_methods="mean")
        got = out.data_vars["band"].df.toPandas()
        assert len(got) == 48
        base = _raster(spark, 16, 12).toPandas()
        manual = base[(base.j < 2) & (base.i < 2)]["value"].mean()
        tl = got[(got.j == 0) & (got.i == 0)]["value"].iloc[0]
        assert abs(tl - manual) < 1e-9
        # the dispatcher still runs end-to-end over the zip-store input
        out2 = resample_in_space(ds, target, source_gm=gm2,
                                 agg_methods="mean")
        assert out2.data_vars["band"].df.count() == 48

    def test_zip_store_is_read_only_and_picklable(self, spark, tmp_path):
        import pickle

        from xcube_resampling_spark.sources import ZipChunkStore

        zpath, _ = self._zip_store(spark, tmp_path)
        store = ZipChunkStore(zpath)
        assert store.get("band/.zarray") is not None
        with pytest.raises(NotImplementedError, match="read-only"):
            store.put("x", b"")
        clone = pickle.loads(pickle.dumps(store))
        assert clone.get("band/.zarray") == store.get("band/.zarray")
        assert store.get("no/such/key") is None

    def test_flatkv_write_read_roundtrip(self, spark, tmp_path):
        """write_zarr through the flat object-store adapter, read back
        through the same store -- no hierarchical filesystem involved
        in either direction (keys are opaque URIs)."""
        from xcube_resampling_spark.sources import (
            FlatKVChunkPut, read_zarr, write_zarr)

        store = FlatKVChunkPut(str(tmp_path / "kv"), prefix="cubes/a")
        w, h = 25, 17
        df = _raster(spark, w, h)
        write_zarr(df, "ignored", "v", (h, w), (8, 8), chunk_put=store)
        # nothing in the root looks like a zarr directory tree
        names = os.listdir(str(tmp_path / "kv"))
        assert not any(os.path.isdir(os.path.join(tmp_path, "kv", n))
                       for n in names if n != "_tmp")
        got = read_zarr(spark, "ignored", "v", store=store) \
            .toPandas().sort_values(["t", "j", "i"])
        exp = df.toPandas().sort_values(["t", "j", "i"])
        assert len(got) == w * h
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy())

    def test_flatkv_bbox_prunes_gets(self, spark, tmp_path):
        """bbox pruning must happen against known_keys() driver-side:
        only intersecting chunks are fetched."""
        from xcube_resampling_spark.sources import (
            FlatKVChunkPut, read_zarr, write_zarr)

        store = FlatKVChunkPut(str(tmp_path / "kv2"))
        w, h = 32, 24
        write_zarr(_raster(spark, w, h), "ignored", "v", (h, w), (8, 8),
                   chunk_put=store)
        got = read_zarr(spark, "ignored", "v", bbox_ij=(0, 0, 8, 8),
                        store=store).toPandas()
        assert len(got) == 64
        assert got["i"].max() < 8 and got["j"].max() < 8

    @pytest.mark.parametrize("impl", ["fs", "flatkv"])
    def test_chunk_put_contract(self, tmp_path, impl):
        """The four-method contract a drop-in object-store client must
        satisfy: idempotent put, get-or-None, slash keys opaque,
        pickle survives."""
        import pickle

        from xcube_resampling_spark.sources import (
            FlatKVChunkPut, FsChunkPut)

        store = (FsChunkPut(str(tmp_path / "c_fs")) if impl == "fs"
                 else FlatKVChunkPut(str(tmp_path / "c_kv"), prefix="p"))
        assert store.get("a/b/.zarray") is None
        store.put("a/b/.zarray", b"one")
        store.put("a/b/.zarray", b"two")  # idempotent overwrite
        assert store.get("a/b/.zarray") == b"two"
        clone = pickle.loads(pickle.dumps(store))
        assert clone.get("a/b/.zarray") == b"two"
        clone.put("a/b/0.0", b"\x00" * 16)
        assert store.get("a/b/0.0") == b"\x00" * 16

    def test_flatkv_known_keys(self, tmp_path):
        from xcube_resampling_spark.sources import FlatKVChunkPut

        store = FlatKVChunkPut(str(tmp_path / "kk"), prefix="pre/fix")
        store.put("v/.zarray", b"{}")
        store.put("v/0.0", b"x")
        other = FlatKVChunkPut(str(tmp_path / "kk"), prefix="other")
        other.put("w/.zarray", b"{}")
        assert sorted(store.known_keys()) == ["v/.zarray", "v/0.0"]
        assert sorted(other.known_keys()) == ["w/.zarray"]


class TestLevels:
    """Multi-level .levels pyramid stores (the reference workflow's
    cell-3 open_data('...levels') shape; xcube multi-resolution layout:
    0.zarr/1.zarr/... + .zlevels)."""

    def _gm(self, w=25, h=17):
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping

        return GridMapping.regular(
            (w, h), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632),
            tile_size=(8, 8))

    def test_write_open_roundtrip_first(self, spark, tmp_path):
        from xcube_resampling_spark.sources import (
            num_zarr_levels, open_zarr_levels, write_zarr_levels)

        gm = self._gm()
        path = str(tmp_path / "cube.levels")
        df = _raster(spark, 25, 17)
        n = write_zarr_levels(df, path, "band", gm)
        # 25x17 with 8x8 tiles: 25->13->7 fits at level 2 -> 3 levels
        assert n == 3 and num_zarr_levels(path) == 3
        assert os.path.isdir(os.path.join(path, "2.zarr"))
        with open(os.path.join(path, ".zlevels")) as fp:
            meta = json.load(fp)
        assert meta["num_levels"] == 3
        # base level is verbatim
        ds0, gm0 = open_zarr_levels(spark, path, level=0)
        assert gm0.size == (25, 17)
        got = ds0.data_vars["band"].df.toPandas().sort_values(
            ["t", "j", "i"])
        exp = df.toPandas().sort_values(["t", "j", "i"])
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy())
        # level 1: first-decimation keeps pixel (2j, 2i)
        ds1, gm1 = open_zarr_levels(spark, path, level=1)
        assert gm1.size == (13, 9)
        assert gm1.x_res == 200.0
        # j-down anchoring: the TOP edge is exact
        assert gm1.y_max == gm0.y_max
        assert gm1.x_min == gm0.x_min
        p1 = ds1.data_vars["band"].df.toPandas()
        base = exp.set_index(["j", "i"])["value"]
        for _, r in p1.sample(min(20, len(p1)), random_state=7).iterrows():
            assert r["value"] == base[(2 * int(r["j"]), 2 * int(r["i"]))]
        # negative index opens the top overview
        ds_top, gm_top = open_zarr_levels(spark, path, level=-1)
        assert gm_top.size == (7, 5)
        assert ds_top.data_vars["band"].df.count() == 35

    def test_mean_levels_values(self, spark, tmp_path):
        from xcube_resampling_spark.sources import (
            open_zarr_levels, write_zarr_levels)

        gm = self._gm(8, 8)
        path = str(tmp_path / "m.levels")
        df = _raster(spark, 8, 8)
        n = write_zarr_levels(df, path, "band", gm, num_levels=2,
                              agg_method="mean")
        assert n == 2
        ds1, gm1 = open_zarr_levels(spark, path, level=1)
        assert gm1.size == (4, 4)
        p1 = ds1.data_vars["band"].df.toPandas()
        base = _raster(spark, 8, 8).toPandas().set_index(["j", "i"])[
            "value"]
        for _, r in p1.iterrows():
            j, i = int(r["j"]), int(r["i"])
            manual = np.mean([base[(2 * j + dj, 2 * i + di)]
                              for dj in (0, 1) for di in (0, 1)])
            assert abs(r["value"] - manual) < 1e-9

    def test_levels_feed_resample(self, spark, tmp_path):
        """The reference two-liner: open a pyramid level, resample it."""
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.operators.affine import (
            affine_transform_dataset)
        from xcube_resampling_spark.sources import (
            open_zarr_levels, write_zarr_levels)

        gm = self._gm(16, 12)
        path = str(tmp_path / "r.levels")
        write_zarr_levels(_raster(spark, 16, 12), path, "band", gm,
                          num_levels=2, agg_method="mean")
        ds1, gm1 = open_zarr_levels(spark, path, level=1)
        target = GridMapping.regular(
            (4, 3), (500000.0, 5000000.0), 400.0, gm1.crs)
        out = affine_transform_dataset(
            ds1, target, source_gm=gm1, agg_methods="mean")
        assert out.data_vars["band"].df.count() == 12

    def test_levels_through_flatkv_store(self, spark, tmp_path):
        """Pyramid write AND read through the object-store adapter --
        no directory layout anywhere."""
        from xcube_resampling_spark.sources import (
            FlatKVChunkPut, num_zarr_levels, open_zarr_levels,
            write_zarr_levels)

        store = FlatKVChunkPut(str(tmp_path / "kv"), prefix="pyr")
        gm = self._gm(16, 12)
        df = _raster(spark, 16, 12)
        n = write_zarr_levels(df, "ignored", "band", gm, num_levels=2,
                              chunk_put=store)
        assert n == 2
        assert num_zarr_levels("ignored", store=store) == 2
        ds1, gm1 = open_zarr_levels(spark, "ignored", level=1,
                                    store=store)
        assert gm1.size == (8, 6)
        p1 = ds1.data_vars["band"].df.toPandas()
        assert len(p1) == 48
        base = df.toPandas().set_index(["j", "i"])["value"]
        r = p1.iloc[0]
        assert r["value"] == base[(2 * int(r["j"]), 2 * int(r["i"]))]

    def test_downscale_first_is_narrow(self, spark):
        """first-decimation must stay a narrow filter: zero exchanges."""
        from xcube_resampling_spark.sources import downscale_level

        df = _raster(spark, 16, 12)
        out = downscale_level(df, "first")
        plan = out._jdf.queryExecution().executedPlan().toString()
        exchanges = [
            line for line in plan.splitlines()
            if "Exchange" in line and "Reused" not in line
        ]
        assert exchanges == []

    def test_level_out_of_range(self, spark, tmp_path):
        from xcube_resampling_spark.sources import (
            open_zarr_levels, write_zarr_levels)

        gm = self._gm(8, 8)
        path = str(tmp_path / "o.levels")
        write_zarr_levels(_raster(spark, 8, 8), path, "band", gm,
                          num_levels=2)
        with pytest.raises(ValueError, match="out of range"):
            open_zarr_levels(spark, path, level=2)


class TestReviewRound6:
    """Pins for the round-6 self-review findings."""

    def test_levels_elongated_grid_caps_levels(self, spark, tmp_path):
        """A 16x512 grid with 16x16 tiles must stop halving before a
        dimension hits 1 (crashed mid-write before, leaving a partial
        store)."""
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import (
            num_levels_for, open_zarr_levels, write_zarr_levels)

        assert num_levels_for((16, 512), (16, 16)) == 4  # 16->8->4->2
        gm = GridMapping.regular(
            (16, 512), (0.0, 0.0), 1.0, CRS.from_epsg(32632),
            tile_size=(16, 16))
        path = str(tmp_path / "e.levels")
        df = spark.range(16 * 512).select(
            F.lit(0).cast("int").alias("t"),
            (F.col("id") / 16).cast("int").alias("j"),
            (F.col("id") % 16).cast("int").alias("i"),
            F.col("id").cast("double").alias("value"),
        )
        n = write_zarr_levels(df, path, "band", gm)
        assert n == 4
        _ds, gm3 = open_zarr_levels(spark, path, level=3)
        assert gm3.size == (2, 64)

    def test_levels_bad_num_levels_fails_before_writing(
            self, spark, tmp_path):
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import write_zarr_levels

        gm = GridMapping.regular(
            (16, 12), (0.0, 0.0), 1.0, CRS.from_epsg(32632))
        path = str(tmp_path / "bad.levels")
        with pytest.raises(ValueError, match="pyramid level"):
            write_zarr_levels(_raster(spark, 16, 12), path, "band", gm,
                              num_levels=6)
        assert not os.path.exists(path)  # nothing was written

    def test_store_mode_never_reads_driver_cwd(self, spark, tmp_path,
                                               monkeypatch):
        """A key missing from the chunk store must NOT be satisfied by
        an unrelated file under the driver's cwd."""
        from xcube_resampling_spark.sources import (
            FlatKVChunkPut, read_zarr, write_zarr)

        # unrelated consolidated metadata lying in the cwd
        trap = tmp_path / "trap"
        trap.mkdir()
        (trap / ".zmetadata").write_text(json.dumps({
            "zarr_consolidated_format": 1,
            "metadata": {"v/.zarray": {
                "zarr_format": 2, "shape": [2, 2], "chunks": [2, 2],
                "dtype": "<f8", "compressor": None, "fill_value": None,
                "order": "C", "filters": None,
            }},
        }))
        monkeypatch.chdir(trap)
        store = FlatKVChunkPut(str(tmp_path / "kvtrap"))
        w, h = 25, 17
        write_zarr(_raster(spark, w, h), "ignored", "v", (h, w), (8, 8),
                   chunk_put=store)
        # remove the store's own consolidated doc so the reader must
        # fall through to the per-array JSON INSIDE the store, not cwd
        os.remove(store._fname(".zmetadata"))
        got = read_zarr(spark, "ignored", "v", store=store)
        assert got.count() == w * h  # real 25x17, not the trap's 2x2

    def test_open_store_unknown_variable_clear_error(self, spark,
                                                     tmp_path):
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import (
            FlatKVChunkPut, open_zarr_dataset, write_zarr_cf)

        store = FlatKVChunkPut(str(tmp_path / "kvv"))
        gm = GridMapping.regular(
            (16, 12), (500000.0, 5000000.0), 100.0,
            CRS.from_epsg(32632))
        write_zarr_cf(_raster(spark, 16, 12), "ignored", "band", gm,
                      chunk_put=store)
        with pytest.raises(FileNotFoundError, match="typo_name"):
            open_zarr_dataset(spark, "ignored",
                              variables=["typo_name"], store=store)

    def test_levels_through_zip_store(self, spark, tmp_path):
        """A zipped .levels pyramid opens read-only through
        ZipChunkStore (how a shipped multi-resolution product would
        arrive)."""
        import zipfile

        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import (
            ZipChunkStore, num_zarr_levels, open_zarr_levels,
            write_zarr_levels)

        gm = GridMapping.regular(
            (16, 12), (500000.0, 5000000.0), 100.0,
            CRS.from_epsg(32632))
        path = str(tmp_path / "z.levels")
        df = _raster(spark, 16, 12)
        write_zarr_levels(df, path, "band", gm, num_levels=2)
        zpath = str(tmp_path / "z.levels.zip")
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(path):
                for f in files:
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, path))
        store = ZipChunkStore(zpath)
        assert num_zarr_levels("ignored", store=store) == 2
        ds1, gm1 = open_zarr_levels(spark, "ignored", level=1,
                                    store=store)
        assert gm1.size == (8, 6)
        assert ds1.data_vars["band"].df.count() == 48


class TestReviewRound6b:
    """Pins for the second round-6 review pass (get-only stores,
    add_spatial_ref3 discovery, dense-heap field widths)."""

    def _gm(self, w, h):
        from xcube_resampling_spark.gridmapping import GridMapping

        return GridMapping.regular(
            (w, h), (0.0, 0.0), 10.0, "EPSG:32633", tile_size=(8, 8))

    def test_levels_through_get_only_store(self, spark, tmp_path):
        """A store WITHOUT known_keys() must still open (.levels sub-
        store wrappers previously exposed a raising known_keys that
        made get-only stores look enumerable and crashed the read)."""
        from xcube_resampling_spark.sources import (
            FlatKVChunkPut, open_zarr_levels, write_zarr_levels)

        full = FlatKVChunkPut(str(tmp_path / "kv"), prefix="pyr")
        gm = self._gm(16, 12)
        write_zarr_levels(_raster(spark, 16, 12), "ignored", "band",
                          gm, num_levels=2, chunk_put=full)

        class GetOnly:
            def __init__(self, inner):
                self._inner = inner

            def get(self, key):
                return self._inner.get(key)

        ds1, gm1 = open_zarr_levels(
            spark, "ignored", level=1, store=GetOnly(full))
        assert gm1.size == (8, 6)
        assert len(ds1.data_vars["band"].df.toPandas()) == 48

    def test_add_spatial_ref3_discovers_via_known_keys(
            self, spark, tmp_path):
        """Non-local root + enumerable store: variables are discovered
        through known_keys() instead of silently skipping all of them."""
        import json

        from xcube_resampling_spark.sources import FlatKVChunkPut
        from xcube_resampling_spark.sources.zarr3 import (
            add_spatial_ref3, write_zarr3)

        store = FlatKVChunkPut(str(tmp_path / "kv3"), prefix="c")
        write_zarr3(_raster(spark, 8, 8), "ignored", "band",
                    (8, 8), (4, 4), chunk_put=store)
        add_spatial_ref3("ignored", "EPSG:32633", chunk_put=store)
        meta = json.loads(store.get("band/zarr.json"))
        assert meta["attributes"]["grid_mapping"] == "spatial_ref"
        assert store.get("spatial_ref/zarr.json") is not None

    def test_add_spatial_ref3_get_only_nonlocal_raises(self, tmp_path):
        from xcube_resampling_spark.sources.zarr3 import add_spatial_ref3

        class GetOnlyPut:
            def get(self, key):
                return None

            def put(self, key, data):
                pass

        with pytest.raises(ValueError, match="data_var_names"):
            add_spatial_ref3("nonexistent-root", "EPSG:32633",
                             chunk_put=GetOnlyPut())

    def test_hdf5_group_style_typo_raises(self):
        import numpy as np

        from xcube_resampling_spark.sources.hdf5 import encode_hdf5

        with pytest.raises(ValueError, match="group_style"):
            encode_hdf5("v", np.zeros((2, 2), dtype="f4"),
                        ("y", "x"), group_style="Dense")

    def test_hdf5_dense_max_managed_obj_fixed(self):
        """FRHP 'maximum size of managed objects' stays 4096 so the
        length-field width libhdf5 derives (2 bytes) matches the stored
        7-byte heap ids even when the direct block grows past 64 KiB."""
        import struct

        import numpy as np

        from xcube_resampling_spark.sources.hdf5 import (
            decode_hdf5, encode_hdf5)

        data = np.arange(6, dtype="f8").reshape(2, 3)
        blob = encode_hdf5("var", data, ("y", "x"),
                           header_version=2, group_style="dense")
        ix = blob.find(b"FRHP")
        assert ix > 0
        max_man = struct.unpack_from("<I", blob, ix + 10)[0]
        assert max_man == 4096
        parsed = decode_hdf5(blob)
        assert "var" in parsed["vars"]

    def test_levels_write_keeps_caller_cache(self, spark, tmp_path):
        """write_zarr_levels must not unpersist a cache the CALLER
        created on the input frame (it persists a derived alias for
        level 0 instead)."""
        from xcube_resampling_spark.sources import write_zarr_levels

        df = _raster(spark, 16, 12).persist()
        df.count()
        gm = self._gm(16, 12)
        write_zarr_levels(df, str(tmp_path / "c.levels"), "band", gm,
                          num_levels=2)
        assert df.storageLevel.useMemory  # still cached
        df.unpersist()


def test_gzip_compressor_read(spark, tmp_path):
    """numcodecs GZip stores (compressor id 'gzip': gzip-framed
    deflate chunks) read back; our writer emits zlib, so the fixture
    re-frames a written store's chunks + metadata as gzip."""
    import gzip as _gzip
    import json as _json
    import zlib as _zlib

    from pyspark.sql import functions as F

    from xcube_resampling_spark.sources import read_zarr, write_zarr

    h, w = 10, 12
    df = spark.range(h * w).select(
        F.lit(0).cast("int").alias("t"),
        (F.col("id") / w).cast("int").alias("j"),
        (F.col("id") % w).cast("int").alias("i"),
        (F.col("id") * 1.0).alias("value"))
    path = str(tmp_path / "g.zarr")
    write_zarr(df, path, "v", (h, w), (8, 8), compressor="zlib")
    za = tmp_path / "g.zarr" / "v" / ".zarray"
    m = _json.loads(za.read_text())
    m["compressor"] = {"id": "gzip", "level": 1}
    za.write_text(_json.dumps(m))
    zm = tmp_path / "g.zarr" / ".zmetadata"
    if zm.exists():
        mm = _json.loads(zm.read_text())
        mm["metadata"]["v/.zarray"]["compressor"] = \
            {"id": "gzip", "level": 1}
        zm.write_text(_json.dumps(mm))
    for f in (tmp_path / "g.zarr" / "v").iterdir():
        if not f.name.startswith("."):
            f.write_bytes(_gzip.compress(
                _zlib.decompress(f.read_bytes()), 1))
    back = read_zarr(spark, path, "v").toPandas().sort_values(
        ["j", "i"])
    exp = df.toPandas().sort_values(["j", "i"])
    np.testing.assert_array_equal(
        back["value"].to_numpy(), exp["value"].to_numpy())


class TestTimeCoordinate:
    def test_open_surfaces_and_decodes_time(self, spark, tmp_path):
        """A store with a CF time coordinate ('days since ...') opens
        with the raw values by default and datetime64[ns] under
        decode_cf=True -- and the decoded axis drives
        resample_in_time directly."""
        import json as _json

        from xcube_resampling_spark.operators.temporal import (
            resample_in_time,
        )
        from xcube_resampling_spark.sources import (
            open_zarr_dataset,
            write_zarr_cf,
        )

        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping

        gm = GridMapping.regular(
            (16, 12), (500000.0, 5000000.0), 100.0,
            CRS.from_epsg(32632))
        path = str(tmp_path / "tc")
        df = _raster(spark, 16, 12, nt=3)
        write_zarr_cf(df, path, "band", gm, nt=3)
        # rename the leading dim to 'time' (the xarray convention)
        # and add a CF time coordinate by hand (uncompressed chunk)
        zap = tmp_path / "tc" / "band" / ".zattrs"
        za_doc = _json.loads(zap.read_text())
        za_doc["_ARRAY_DIMENSIONS"] = ["time", "y", "x"]
        zap.write_text(_json.dumps(za_doc))
        tdir = tmp_path / "tc" / "time"
        tdir.mkdir()
        tvals = np.array([0, 3, 9], dtype="<i8")
        (tdir / ".zarray").write_text(_json.dumps({
            "zarr_format": 2, "shape": [3], "chunks": [3],
            "dtype": "<i8", "compressor": None, "fill_value": None,
            "order": "C", "filters": None,
        }))
        (tdir / ".zattrs").write_text(_json.dumps({
            "_ARRAY_DIMENSIONS": ["time"],
            "units": "days since 2024-01-01",
            "calendar": "standard",
        }))
        (tdir / "0").write_bytes(tvals.tobytes())

        ds, _gm2 = open_zarr_dataset(spark, path)
        np.testing.assert_array_equal(ds.coords["time"], tvals)
        assert ds.coord_attrs["time"]["units"] == \
            "days since 2024-01-01"

        ds2, _ = open_zarr_dataset(spark, path, decode_cf=True)
        want = np.array(
            ["2024-01-01", "2024-01-04", "2024-01-10"],
            dtype="datetime64[ns]")
        np.testing.assert_array_equal(ds2.coords["time"], want)

        # decoded datetime64 axis feeds resample_in_time (unit = ns!)
        day_ns = 86_400_000_000_000
        out = resample_in_time(ds2, period=7 * day_ns,
                               agg_methods="count")
        assert len(out.coords["time"]) == 2
        assert out.coords["time"].dtype == want.dtype

    def test_fixed_calendar_time_keeps_raw_values(self, spark,
                                                  tmp_path):
        import json as _json

        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import (
            open_zarr_dataset,
            write_zarr_cf,
        )

        gm = GridMapping.regular(
            (8, 6), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632))
        path = str(tmp_path / "tc360")
        write_zarr_cf(_raster(spark, 8, 6, nt=2), path, "band", gm,
                      nt=2)
        zap = tmp_path / "tc360" / "band" / ".zattrs"
        za_doc = _json.loads(zap.read_text())
        za_doc["_ARRAY_DIMENSIONS"] = ["time", "y", "x"]
        zap.write_text(_json.dumps(za_doc))
        tdir = tmp_path / "tc360" / "time"
        tdir.mkdir()
        (tdir / ".zarray").write_text(_json.dumps({
            "zarr_format": 2, "shape": [2], "chunks": [2],
            "dtype": "<i4", "compressor": None, "fill_value": None,
            "order": "C", "filters": None,
        }))
        (tdir / ".zattrs").write_text(_json.dumps({
            "units": "days since 2000-01-01",
            "calendar": "360_day",
        }))
        (tdir / "0").write_bytes(
            np.array([0, 30], dtype="<i4").tobytes())
        ds, _ = open_zarr_dataset(spark, path, decode_cf=True)
        # 360_day has no real-timeline instants: raw values + attrs
        np.testing.assert_array_equal(ds.coords["time"], [0, 30])
        assert ds.coord_attrs["time"]["calendar"] == "360_day"

    def test_write_time_values_roundtrip(self, spark, tmp_path):
        """write_zarr_cf(time_values=datetime64) -> open(decode_cf=True)
        round-trips the axis and feeds resample_in_time -- the full
        store->open->temporal-resample loop with no hand-editing."""
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.operators.temporal import (
            resample_in_time,
        )
        from xcube_resampling_spark.sources import (
            open_zarr_dataset,
            write_zarr_cf,
        )

        gm = GridMapping.regular(
            (8, 6), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632))
        times = np.array(["2024-01-01", "2024-01-04", "2024-01-09"],
                         dtype="datetime64[D]")
        path = str(tmp_path / "wt")
        write_zarr_cf(_raster(spark, 8, 6, nt=3), path, "band", gm,
                      nt=3, time_values=times)

        ds, _ = open_zarr_dataset(spark, path, decode_cf=True)
        np.testing.assert_array_equal(
            ds.coords["t"], times.astype("datetime64[ns]"))
        assert ds.coord_attrs["t"]["encoding"]["units"] == \
            "days since 1970-01-01"
        day_ns = 86_400_000_000_000
        out = resample_in_time(ds, period=7 * day_ns,
                               agg_methods="count")
        ns = times.astype("datetime64[ns]").astype("int64")
        want_bins = sorted({int(n) // (7 * day_ns) * (7 * day_ns)
                            for n in ns})
        np.testing.assert_array_equal(
            out.coords["t"].astype("int64"), want_bins)

    def test_write_time_values_fixed_calendar(self, spark, tmp_path):
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import (
            open_zarr_dataset,
            write_zarr_cf,
        )

        gm = GridMapping.regular(
            (8, 6), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632))
        path = str(tmp_path / "wt360")
        write_zarr_cf(_raster(spark, 8, 6, nt=2), path, "band", gm,
                      nt=2, time_values=np.array([0, 30]),
                      time_units="days since 2000-01-01",
                      time_calendar="360_day")
        ds, _ = open_zarr_dataset(spark, path, decode_cf=True)
        np.testing.assert_array_equal(ds.coords["t"], [0, 30])
        assert ds.coord_attrs["t"]["calendar"] == "360_day"

    def test_write_time_values_validation(self, spark, tmp_path):
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import write_zarr_cf

        gm = GridMapping.regular(
            (8, 6), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632))
        df = _raster(spark, 8, 6, nt=2)
        with pytest.raises(ValueError, match="needs nt"):
            write_zarr_cf(df, str(tmp_path / "a"), "band", gm,
                          time_values=np.array([0, 1]))
        with pytest.raises(ValueError, match="shape"):
            write_zarr_cf(df, str(tmp_path / "b"), "band", gm, nt=2,
                          time_values=np.array([0, 1, 2]))

    def test_write_time_values_review_guards(self, spark, tmp_path):
        """Float axes round-trip exactly; NaT, fixed-calendar labels
        on datetime64 instants, and units overrides are refused."""
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import (
            open_zarr_dataset,
            write_zarr_cf,
        )

        gm = GridMapping.regular(
            (8, 6), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632))
        df = _raster(spark, 8, 6, nt=2)
        # fractional CF values survive
        pf = str(tmp_path / "wfrac")
        write_zarr_cf(df, pf, "band", gm, nt=2,
                      time_values=np.array([0.5, 1.5]),
                      time_units="days since 2000-01-01")
        ds, _ = open_zarr_dataset(spark, pf)
        np.testing.assert_array_equal(ds.coords["t"], [0.5, 1.5])
        # refusals
        dt = np.array(["2024-01-01", "NaT"], dtype="datetime64[D]")
        with pytest.raises(ValueError, match="NaT"):
            write_zarr_cf(df, str(tmp_path / "w1"), "band", gm, nt=2,
                          time_values=dt)
        ok = np.array(["2024-01-01", "2024-01-02"],
                      dtype="datetime64[D]")
        with pytest.raises(ValueError, match="cannot label"):
            write_zarr_cf(df, str(tmp_path / "w2"), "band", gm, nt=2,
                          time_values=ok, time_calendar="360_day")
        with pytest.raises(ValueError, match="cannot override"):
            write_zarr_cf(df, str(tmp_path / "w3"), "band", gm, nt=2,
                          time_values=ok,
                          time_units="hours since 2000-01-01")
