"""NetCDF-3 classic source/sink tests: byte-level format conformance
(header fields per the public Unidata spec), codec roundtrips, and the
distributed granule write / pruned read paths."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from xcube_resampling_spark.sources import read_netcdf3, write_netcdf3
from xcube_resampling_spark.sources.netcdf3 import (
    decode_netcdf3, encode_netcdf3,
)


def _raster(spark, w, h, nt=1):
    return spark.range(nt * w * h).select(
        ((F.col("id") / (w * h))).cast("int").alias("t"),
        ((F.col("id") % (w * h)) / w).cast("int").alias("j"),
        (F.col("id") % w).cast("int").alias("i"),
        (F.col("id") * 0.25 - 3.0).alias("value"),
    )


class TestCodec:
    def test_header_bytes_follow_spec(self):
        data = np.arange(6, dtype="f8").reshape(2, 3)
        blob = encode_netcdf3("v", data, ("y", "x"))
        assert blob[:4] == b"CDF\x01"
        assert struct.unpack_from(">i", blob, 4)[0] == 0  # numrecs
        assert struct.unpack_from(">i", blob, 8)[0] == 0x0A  # NC_DIMENSION
        assert struct.unpack_from(">i", blob, 12)[0] == 2  # two dims
        # first dim: name "y" (len 1, padded to 4), size 2
        assert struct.unpack_from(">i", blob, 16)[0] == 1
        assert blob[20:21] == b"y"
        assert struct.unpack_from(">i", blob, 24)[0] == 2
        # data is big-endian doubles at the var's begin offset
        parsed = decode_netcdf3(blob)
        begin = blob.index(np.array(5.0, dtype=">f8").tobytes())
        assert blob[begin:begin + 8] == np.array(
            5.0, dtype=">f8"
        ).tobytes()
        np.testing.assert_array_equal(parsed["vars"]["v"]["data"], data)

    @pytest.mark.parametrize("dtype", ["f8", "f4", "i4", "i2", "i1"])
    def test_dtype_roundtrip(self, dtype):
        rng = np.random.default_rng(3)
        data = rng.integers(-100, 100, (5, 7)).astype(dtype)
        blob = encode_netcdf3("v", data, ("y", "x"))
        back = decode_netcdf3(blob)["vars"]["v"]["data"]
        np.testing.assert_array_equal(back, data)

    def test_attrs_roundtrip(self):
        data = np.zeros((2, 2), dtype="f8")
        blob = encode_netcdf3(
            "v", data, ("y", "x"),
            global_attrs={"j_offset": 128, "title": "granule",
                          "scale": 0.5},
            var_attrs={"units": "K"},
        )
        parsed = decode_netcdf3(blob)
        assert parsed["attrs"]["j_offset"] == 128
        assert parsed["attrs"]["title"] == "granule"
        assert parsed["attrs"]["scale"] == 0.5
        assert parsed["vars"]["v"]["attrs"]["units"] == "K"
        assert parsed["vars"]["v"]["dims"] == ("y", "x")

    def test_3d_and_odd_name_padding(self):
        data = np.arange(24, dtype="f4").reshape(2, 3, 4)
        blob = encode_netcdf3("sst_k", data, ("t", "y", "x"))
        parsed = decode_netcdf3(blob)
        np.testing.assert_array_equal(parsed["vars"]["sst_k"]["data"], data)
        assert parsed["dims"] == [("t", 2), ("y", 3), ("x", 4)]

    def test_odd_sized_payload_padded_to_4(self):
        data = np.arange(3, dtype="i2")  # 6 bytes -> vsize 8
        blob = encode_netcdf3("v", data, ("x",))
        assert len(blob) % 4 == 0
        np.testing.assert_array_equal(
            decode_netcdf3(blob)["vars"]["v"]["data"], data
        )

    def test_bad_magic_rejected(self):
        with pytest.raises(ValueError, match="magic"):
            decode_netcdf3(b"HDF5....")

    def test_record_variable_roundtrip(self):
        """Unlimited first dim: length 0 in the dim list, count in
        numrecs, per-record slabs in the data section."""
        data = np.arange(60, dtype="<f8").reshape(5, 3, 4)
        blob = encode_netcdf3(
            "v", data, ("time", "y", "x"), record_dim=True
        )
        assert struct.unpack_from(">i", blob, 4)[0] == 5  # numrecs
        parsed = decode_netcdf3(blob)
        assert parsed["dims"][0] == ("time", 0)
        np.testing.assert_array_equal(parsed["vars"]["v"]["data"], data)
        assert parsed["vars"]["v"]["dims"] == ("time", "y", "x")

    def test_streaming_numrecs_inferred(self):
        data = np.arange(24, dtype="<f4").reshape(4, 6)
        blob = bytearray(encode_netcdf3(
            "v", data, ("time", "x"), record_dim=True
        ))
        struct.pack_into(">i", blob, 4, -1)  # STREAMING sentinel
        parsed = decode_netcdf3(bytes(blob))
        np.testing.assert_array_equal(parsed["vars"]["v"]["data"], data)

    def test_two_record_vars_interleaved(self):
        """Hand-built file with TWO record variables: each record holds
        var-a's slab then var-b's slab (the real multi-variable layout,
        not produced by our writer)."""
        w_a = np.arange(12, dtype="<f8").reshape(3, 4)  # (time, x)
        w_b = (np.arange(6, dtype="<i4") * 10).reshape(3, 2)
        blob = bytearray()
        blob += b"CDF\x01"
        blob += struct.pack(">i", 3)  # numrecs
        blob += struct.pack(">ii", 0x0A, 3)  # 3 dims
        for nm, size in (("time", 0), ("x", 4), ("k", 2)):
            blob += struct.pack(">i", len(nm)) + nm.encode() \
                + b"\x00" * ((4 - len(nm) % 4) % 4)
            blob += struct.pack(">i", size)
        blob += struct.pack(">ii", 0, 0)  # no global attrs
        blob += struct.pack(">ii", 0x0B, 2)  # 2 vars
        header_tail = []
        # var a: dims (time, x), f8, vsize 32
        # var b: dims (time, k), i4, vsize 8
        var_meta = [("a", [0, 1], 6, 32), ("b", [0, 2], 4, 8)]
        # compute begins after assembling the fixed-length var entries
        entries = []
        for nm, dimids, nct, vsize in var_meta:
            e = struct.pack(">i", len(nm)) + nm.encode() \
                + b"\x00" * ((4 - len(nm) % 4) % 4)
            e += struct.pack(">i", len(dimids))
            for d in dimids:
                e += struct.pack(">i", d)
            e += struct.pack(">ii", 0, 0)  # no attrs
            e += struct.pack(">i", nct)
            e += struct.pack(">i", vsize)
            entries.append(e)
        header_len = len(blob) + sum(len(e) + 4 for e in entries)
        begins = [header_len, header_len + 32]
        for e, b0 in zip(entries, begins):
            blob += e + struct.pack(">i", b0)
        for rec in range(3):
            blob += w_a[rec].astype(">f8").tobytes()
            blob += w_b[rec].astype(">i4").tobytes()
        parsed = decode_netcdf3(bytes(blob))
        np.testing.assert_array_equal(parsed["vars"]["a"]["data"], w_a)
        np.testing.assert_array_equal(parsed["vars"]["b"]["data"], w_b)

    def test_cdf2_64bit_offsets(self):
        """A CDF-2 image (version byte 2, 8-byte begin) decodes too."""
        blob = bytearray(encode_netcdf3(
            "v", np.arange(4, dtype="f8"), ("x",)
        ))
        # rebuild as CDF-2 by hand: bump version, widen begin field
        parsed_begin = len(blob) - 32  # 4 doubles
        idx = blob.index(struct.pack(">i", parsed_begin))
        blob2 = bytes(blob[:3]) + b"\x02" + bytes(blob[4:idx]) \
            + struct.pack(">q", parsed_begin + 4) + bytes(blob[idx + 4:])
        parsed = decode_netcdf3(blob2)
        np.testing.assert_array_equal(
            parsed["vars"]["v"]["data"], np.arange(4, dtype="f8")
        )


class TestCdf5:
    """CDF-5 ("64-bit data", PnetCDF spec): every NON_NEG header field
    widens to 8 bytes; unsigned/64-bit nc_types become available."""

    def test_header_bytes_follow_spec(self):
        data = np.arange(6, dtype="f8").reshape(2, 3)
        blob = encode_netcdf3("v", data, ("y", "x"), version=5)
        assert blob[:4] == b"CDF\x05"
        assert struct.unpack_from(">q", blob, 4)[0] == 0  # numrecs i8
        assert struct.unpack_from(">i", blob, 12)[0] == 0x0A
        assert struct.unpack_from(">q", blob, 16)[0] == 2  # ndims i8
        # first dim: name length is an i8 in CDF-5
        assert struct.unpack_from(">q", blob, 24)[0] == 1
        assert blob[32:33] == b"y"
        assert struct.unpack_from(">q", blob, 36)[0] == 2  # dim size i8
        parsed = decode_netcdf3(blob)
        np.testing.assert_array_equal(parsed["vars"]["v"]["data"], data)

    @pytest.mark.parametrize(
        "dtype", ["f8", "f4", "i4", "i2", "i1", "u1", "u2", "u4",
                  "i8", "u8"])
    def test_dtype_roundtrip(self, dtype):
        data = np.array([0, 1, 2, 100], dtype=dtype).reshape(2, 2)
        blob = encode_netcdf3("v", data, ("y", "x"), version=5)
        back = decode_netcdf3(blob)["vars"]["v"]["data"]
        assert back.dtype.str.lstrip("<>=|") == dtype
        np.testing.assert_array_equal(back, data)

    def test_int64_range(self):
        data = np.array([2 ** 40, -(2 ** 40), 2 ** 62], dtype="i8")
        blob = encode_netcdf3("v", data, ("x",), version=5)
        np.testing.assert_array_equal(
            decode_netcdf3(blob)["vars"]["v"]["data"], data)

    def test_cdf5_only_dtypes_need_version_5(self):
        data = np.array([1, 2], dtype="u8")
        with pytest.raises(NotImplementedError, match="version=5"):
            encode_netcdf3("v", data, ("x",))
        with pytest.raises(NotImplementedError, match="version=5"):
            encode_netcdf3("v", data, ("x",), version=2)

    def test_attrs_roundtrip(self):
        blob = encode_netcdf3(
            "v", np.zeros((2, 2), "f8"), ("y", "x"), version=5,
            global_attrs={"title": "cdf5 granule", "j_offset": 128},
            var_attrs={"missing_value": [-9.0, -8.0], "units": "K"},
        )
        parsed = decode_netcdf3(blob)
        assert parsed["attrs"]["title"] == "cdf5 granule"
        assert parsed["attrs"]["j_offset"] == 128
        v = parsed["vars"]["v"]["attrs"]
        assert v["units"] == "K"
        assert v["missing_value"] == [-9.0, -8.0]

    def test_record_variable_roundtrip(self):
        data = np.arange(24, dtype="f4").reshape(3, 2, 4)
        blob = encode_netcdf3(
            "v", data, ("t", "y", "x"), record_dim=True, version=5)
        assert struct.unpack_from(">q", blob, 4)[0] == 3  # numrecs
        parsed = decode_netcdf3(blob)
        assert parsed["dims"][0] == ("t", 0)
        np.testing.assert_array_equal(parsed["vars"]["v"]["data"], data)

    def test_streaming_numrecs_sentinel(self):
        data = np.arange(12, dtype="f8").reshape(3, 4)
        blob = bytearray(encode_netcdf3(
            "v", data, ("t", "x"), record_dim=True, version=5))
        blob[4:12] = b"\xff" * 8  # 8-byte STREAMING sentinel
        parsed = decode_netcdf3(bytes(blob))
        np.testing.assert_array_equal(parsed["vars"]["v"]["data"], data)

    def test_cdf2_encode_roundtrip(self):
        # version=2 writes a true CDF-2 (8-byte begin, 4-byte NON_NEG)
        data = np.arange(8, dtype="f8").reshape(2, 4)
        blob = encode_netcdf3("v", data, ("y", "x"), version=2)
        assert blob[:4] == b"CDF\x02"
        assert struct.unpack_from(">i", blob, 4)[0] == 0  # still i4
        np.testing.assert_array_equal(
            decode_netcdf3(blob)["vars"]["v"]["data"], data)

    def test_distributed_granules(self, spark, tmp_path):
        from pyspark.sql import functions as F

        w, h = 12, 10
        df = spark.range(w * h).select(
            F.lit(0).alias("t"),
            (F.col("id") / w).cast("int").alias("j"),
            (F.col("id") % w).cast("int").alias("i"),
            (F.col("id") * 0.25).cast("double").alias("value"),
        )
        path = str(tmp_path / "gran5")
        write_netcdf3(df, path, "v", (h, w), band_rows=4, version=5)
        with open(f"{path}/part-00000.nc", "rb") as fp:
            assert fp.read(4) == b"CDF\x05"
        got = read_netcdf3(spark, path, "v").toPandas() \
            .sort_values(["t", "j", "i"])
        exp = df.toPandas().sort_values(["t", "j", "i"])
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy())


class TestGranuleRoundtrip:
    def test_2d_roundtrip_multiband(self, spark, tmp_path):
        w, h = 21, 17
        df = _raster(spark, w, h)
        path = str(tmp_path / "nc")
        write_netcdf3(df, path, "v", (h, w), band_rows=5)
        import os

        parts = [f for f in os.listdir(path) if f.endswith(".nc")]
        assert len(parts) == 4  # ceil(17 / 5)
        got = read_netcdf3(spark, path, "v").toPandas().sort_values(
            ["t", "j", "i"]
        )
        exp = df.toPandas().sort_values(["t", "j", "i"])
        assert len(got) == w * h
        np.testing.assert_array_equal(
            got["value"].to_numpy(), exp["value"].to_numpy()
        )

    def test_3d_roundtrip(self, spark, tmp_path):
        w, h, nt = 9, 8, 3
        df = _raster(spark, w, h, nt)
        path = str(tmp_path / "nc3")
        write_netcdf3(df, path, "v", (nt, h, w), band_rows=4)
        got = read_netcdf3(spark, path, "v").toPandas()
        assert len(got) == nt * w * h
        assert got["t"].max() == nt - 1

    def test_bbox_prunes_granule_files(self, spark, tmp_path):
        w, h = 16, 32
        df = _raster(spark, w, h)
        path = str(tmp_path / "ncp")
        write_netcdf3(df, path, "v", (h, w), band_rows=8)
        out = read_netcdf3(spark, path, "v", bbox_ij=(2, 9, 10, 15))
        # rows j 9..14 live in band 1 only: the scan must list ONE file
        scanned = [
            f for f in out._jdf.queryExecution().optimizedPlan().toString()
            .split("\n") if "part-" in f
        ]
        plan = out._jdf.queryExecution().toString()
        assert plan.count("part-") <= 1 or len(scanned) <= 1
        pdf = out.toPandas()
        assert sorted(pdf["j"].unique()) == list(range(9, 15))
        assert len(pdf) == 8 * 6

    def test_single_file_read(self, spark, tmp_path):
        data = np.arange(12, dtype="f8").reshape(3, 4)
        p = tmp_path / "one.nc"
        p.write_bytes(encode_netcdf3("v", data, ("y", "x")))
        got = read_netcdf3(spark, str(p), "v").toPandas().sort_values(
            ["j", "i"]
        )
        np.testing.assert_array_equal(
            got["value"].to_numpy(), data.ravel()
        )

    def test_nan_fill_for_missing_pixels(self, spark, tmp_path):
        w, h = 6, 4
        df = _raster(spark, w, h).filter(F.col("i") != 3)
        path = str(tmp_path / "ncn")
        write_netcdf3(df, path, "v", (h, w), band_rows=4)
        got = read_netcdf3(spark, path, "v").toPandas()
        assert len(got) == w * h  # dense granules carry NaN for gaps
        assert got[got["i"] == 3]["value"].isna().all()


class TestDecodeCf:
    def test_packed_i2_with_cf_attrs(self, spark, tmp_path):
        """Packed sst-style variable: _FillValue -> NaN then
        scale/offset, matching the zarr reader and xarray decode_cf."""
        raw = np.array([[0, 100, -32768], [200, -32768, 300]], dtype="<i2")
        blob = encode_netcdf3(
            "sst", raw, ("y", "x"),
            var_attrs={"_FillValue": -32768, "scale_factor": 0.01,
                       "add_offset": 273.15, "units": "K"},
        )
        p = tmp_path / "sst.nc"
        p.write_bytes(blob)
        got = read_netcdf3(
            spark, str(p), "sst", decode_cf=True
        ).toPandas().sort_values(["j", "i"])
        exp = np.where(raw == -32768, np.nan, raw * 0.01 + 273.15).ravel()
        np.testing.assert_allclose(
            got["value"].to_numpy(), exp, equal_nan=True
        )
        rawback = read_netcdf3(spark, str(p), "sst").toPandas()
        assert rawback["value"].min() == -32768.0

    def test_vector_missing_value_decodes(self, spark, tmp_path):
        """CF-legal vector-valued missing_value: every listed value
        becomes NaN (float(list) used to TypeError here)."""
        raw = np.array([[0, -9999, 100], [-8888, 200, 300]], dtype="<i4")
        blob = encode_netcdf3(
            "sst", raw, ("y", "x"),
            var_attrs={"missing_value": [-9999, -8888],
                       "scale_factor": 0.5},
        )
        p = tmp_path / "vsst.nc"
        p.write_bytes(blob)
        got = read_netcdf3(
            spark, str(p), "sst", decode_cf=True
        ).toPandas().sort_values(["j", "i"])
        exp = np.where(
            np.isin(raw, [-9999, -8888]), np.nan, raw * 0.5
        ).ravel()
        np.testing.assert_allclose(
            got["value"].to_numpy(), exp, equal_nan=True
        )


class TestWideBandIndex:
    def test_prune_parses_wide_band_indices(self, spark, tmp_path):
        """Band indices >= 100000 widen past the 05d pad; the prune
        filter must parse the full index, not a fixed-width slice
        (which silently truncated and pruned the WRONG files)."""
        import json as _json

        w = 4
        path = tmp_path / "wide"
        path.mkdir()
        # band k covers rows [2k, 2k+2); fake a sparse store with bands
        # 0 and 123456 present
        for band in (0, 123456):
            data = np.full((2, w), float(band), dtype="f8")
            blob = encode_netcdf3(
                "v", data, ("y", "x"),
                global_attrs={"j_offset": 2 * band, "i_offset": 0,
                              "t_offset": 0},
            )
            (path / f"part-{band}.nc").write_bytes(blob)
        (path / "_meta.json").write_text(_json.dumps(
            {"var": "v", "band_rows": 2}
        ))
        j0 = 2 * 123456
        got = read_netcdf3(
            spark, str(path), "v", bbox_ij=(0, j0, w, j0 + 2)
        ).toPandas()
        assert sorted(got["j"].unique()) == [j0, j0 + 1]
        assert (got["value"] == 123456.0).all()


class TestBandPruneKeepsOtherFiles:
    def test_unknown_granule_name_is_kept(self, spark, tmp_path):
        """A bbox read of a granule directory holding a .nc file not
        named part-<band>.nc keeps that file (its band is unknown)
        instead of crashing on the band parse."""
        import shutil

        w, h = 4, 8
        path = tmp_path / "ncx"
        write_netcdf3(_raster(spark, w, h), str(path), "v", (h, w),
                      band_rows=2)
        shutil.copy(path / "part-00000.nc", path / "extra.nc")
        pdf = read_netcdf3(spark, str(path), "v",
                           bbox_ij=(0, 0, 4, 2)).toPandas()
        # band 0 and its copy: every window pixel twice
        assert len(pdf) == 2 * 2 * w
        assert (pdf.groupby(["j", "i"]).size() == 2).all()
        assert pdf["j"].max() < 2
