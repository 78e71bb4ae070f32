"""Reprojection goldens.

Expected grids replicate /root/reference/tests/test_reproject.py:21-257.
"""

import numpy as np
import pytest

from xcube_resampling_spark.crs import CRS_WGS84
from xcube_resampling_spark.gridmapping import GridMapping
from xcube_resampling_spark.operators.reproject import reproject_dataset

from .sampledata import (
    create_2x5x5_dataset_regular_utm,
    create_5x5_dataset_regular_utm,
    create_large_dataset_for_reproject,
    long_pixels_df,
)


class TestReproject:
    def test_reproject_target_gm(self, spark):
        source_ds = create_5x5_dataset_regular_utm(spark)
        target_gm = GridMapping.regular(
            size=(5, 5), xy_min=(4320080, 3382480), xy_res=80, crs="epsg:3035"
        )
        out = reproject_dataset(source_ds, target_gm)
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

    def test_reproject_target_gm_3d(self, spark):
        source_ds = create_2x5x5_dataset_regular_utm(spark)
        target_gm = GridMapping.regular(
            size=(5, 5), xy_min=(4320080, 3382480), xy_res=80, crs="epsg:3035"
        )
        out = reproject_dataset(source_ds, target_gm)
        got = out.to_numpy("band_1", (2, 5, 5))
        expected = np.array(
            [
                [1, 1, 2, 3, 4],
                [6, 6, 7, 8, 9],
                [11, 12, 12, 13, 14],
                [16, 17, 17, 18, 19],
                [21, 17, 17, 18, 19],
            ]
        )
        np.testing.assert_almost_equal(got[0], expected)
        np.testing.assert_almost_equal(got[1], expected)

    def test_reproject_target_gm_j_axis_up(self, spark):
        source_ds = create_5x5_dataset_regular_utm(spark)
        target_gm = GridMapping.regular(
            size=(5, 5),
            xy_min=(4320080, 3382480),
            xy_res=80,
            crs="epsg:3035",
            is_j_axis_up=True,
        )
        out = reproject_dataset(source_ds, target_gm)
        got = out.to_numpy("band_1", (5, 5))
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [21, 17, 17, 18, 19],
                    [16, 17, 17, 18, 19],
                    [11, 12, 12, 13, 14],
                    [6, 6, 7, 8, 9],
                    [1, 1, 2, 3, 4],
                ]
            ),
        )

    def test_reproject_source_gm_j_axis_up(self, spark):
        import numpy as np

        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.dataset import SparkDataset

        # source with ascending y axis (reference test flips via isel)
        x = np.arange(565300.0, 565800.0, 100.0)
        y = np.arange(5934300.0, 5933800.0, -100.0)[::-1]
        band_1 = np.arange(25, dtype=np.int64).reshape((5, 5))[::-1, :]
        source_ds = SparkDataset.from_numpy(
            spark,
            data_vars={"band_1": (("y", "x"), band_1)},
            coords={"x": x, "y": y, "spatial_ref": np.array(0)},
            coord_attrs={"spatial_ref": CRS.from_epsg(32632).to_cf()},
            var_attrs={"band_1": {"grid_mapping": "spatial_ref"}},
            yx_dims=("y", "x"),
        )
        target_gm = GridMapping.regular(
            size=(5, 5), xy_min=(4320080, 3382480), xy_res=80, crs="epsg:3035"
        )
        out = reproject_dataset(source_ds, target_gm)
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

    def test_reproject_target_gm_finer_res(self, spark):
        source_ds = create_5x5_dataset_regular_utm(spark)
        target_gm = GridMapping.regular(
            size=(5, 5), xy_min=(4320080, 3382480), xy_res=20, crs="epsg:3035"
        )
        out = reproject_dataset(source_ds, target_gm)
        got = out.to_numpy("band_1", (5, 5))
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [15, 16, 16, 16, 16],
                    [15, 16, 16, 16, 16],
                    [15, 16, 16, 16, 16],
                    [20, 21, 21, 21, 21],
                    [20, 21, 21, 21, 21],
                ]
            ),
        )

    def test_reproject_target_gm_coarser_res(self, spark):
        source_ds = create_5x5_dataset_regular_utm(spark)
        target_gm = GridMapping.regular(
            size=(3, 3), xy_min=(4320050, 3382500), xy_res=120, crs="epsg:3035"
        )
        out = reproject_dataset(source_ds, target_gm)
        got = out.to_numpy("band_1", (3, 3))
        np.testing.assert_almost_equal(
            got, np.array([[0, 1, 2], [5, 6, 7], [15, 16, 17]])
        )

    def test_reproject_target_gm_geographic_crs(self, spark):
        source_ds = create_5x5_dataset_regular_utm(spark)
        target_gm = GridMapping.regular(
            size=(5, 5), xy_min=(9.9886, 53.5499), xy_res=0.0006,
            crs=CRS_WGS84,
        )
        out = reproject_dataset(source_ds, target_gm)
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

    def test_reproject_target_gm_geographic_crs_fine_res(self, spark):
        source_ds = create_5x5_dataset_regular_utm(spark)
        target_gm = GridMapping.regular(
            size=(5, 5), xy_min=(9.9886, 53.5499), xy_res=0.0003,
            crs=CRS_WGS84,
        )
        out = reproject_dataset(source_ds, target_gm)
        got = out.to_numpy("band_1", (5, 5))
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [12, 12, 12, 13, 13],
                    [17, 17, 17, 18, 18],
                    [17, 17, 17, 18, 18],
                    [22, 17, 17, 18, 18],
                    [22, 22, 22, 23, 23],
                ]
            ),
        )

    def test_reproject_complex(self, spark):
        source_ds = create_large_dataset_for_reproject(spark)
        target_gm = GridMapping.regular(
            size=(10, 10),
            xy_min=(6.0, 48.0),
            xy_res=0.2,
            crs=CRS_WGS84,
            tile_size=(5, 5),
        )
        out = reproject_dataset(
            source_ds, target_gm, interp_methods="triangular"
        )
        # Tolerance 0.02 (reference asserts places=4 against itself): the
        # reference rounds gathered coordinate origins to float32
        # (reproject.py:427-428), we keep float64 -- a ~4e-5-pixel index
        # difference on this fixture's 6060 m grid.
        assert set(out.data_vars) == {"temperature", "onedim_data"}
        got = out.to_numpy("temperature", (10, 10, 10))
        assert abs(got[0, 0, 0] - 6353.582) < 2e-2
        assert abs(got[0, -1, -1] - 3007.1228) < 2e-2

        out = reproject_dataset(source_ds, target_gm, interp_methods=1)
        got = out.to_numpy("temperature", (10, 10, 10))
        assert abs(got[0, 0, 0] - 6353.5823) < 2e-2
        assert abs(got[0, -1, -1] - 3007.1228) < 2e-2

    def test_reproject_raise_not_implemented(self, spark):
        source_ds = create_5x5_dataset_regular_utm(spark)
        target_gm = GridMapping.regular(
            size=(5, 5), xy_min=(4320080, 3382480), xy_res=20, crs="epsg:3035"
        )
        with pytest.raises(NotImplementedError) as excinfo:
            reproject_dataset(source_ds, target_gm, interp_methods="cubic")
        assert (
            "interp_methods must be one of 0, 1, 'nearest', 'bilinear', "
            "'triangular'" in str(excinfo.value)
        )

    def test_reproject_index_quantization(self, spark):
        """index_quantization_bits snaps fractional indices to a 2**-b
        binary grid: results must stay within the quantum-sized envelope of
        the exact path, and b=20 (spacing ~1e-6) must be value-identical at
        this grid's engineered boundary margins (>= 1.3e-4)."""
        source_ds = create_5x5_dataset_regular_utm(spark)
        target_gm = GridMapping.regular(
            size=(5, 5), xy_min=(4320080, 3382480), xy_res=80, crs="epsg:3035"
        )
        exact = reproject_dataset(
            source_ds, target_gm, interp_methods="bilinear"
        ).to_numpy("band_1", (5, 5))
        fine = reproject_dataset(
            source_ds, target_gm, interp_methods="bilinear",
            index_quantization_bits=20,
        ).to_numpy("band_1", (5, 5))
        # quantization moves each index by <= 2**-21, shifting a bilinear
        # blend by <= 2 * quantum * max|neighbor delta| (deltas <= 6 here);
        # exact zero deltas would be fixture luck, not a guarantee
        np.testing.assert_allclose(exact, fine, atol=2 * 6 * 2.0**-20)
        coarse = reproject_dataset(
            source_ds, target_gm, interp_methods="bilinear",
            index_quantization_bits=10,
        ).to_numpy("band_1", (5, 5))
        # one quantum (2**-10) of index shift moves a bilinear blend by at
        # most 2 * quantum * max|neighbor delta| (deltas here are <= 6)
        assert np.nanmax(np.abs(coarse - exact)) <= 2 * 6 * 2.0**-10

    def test_driver_bilinear_exact_path_envelope(self, spark):
        """The driver's bilinear reproject entries are oracle-verified on
        the quantized path (index_quantization_bits=10); this pins the
        PRODUCTION default (exact indices) to the quantized result at
        driver scale, within the quantum envelope, so the default path
        keeps value-level coverage too (round-3 advice)."""
        import sys

        sys.path.insert(0, ".")
        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        quant = entry._q_reproject("bilinear")(spark, sf).toPandas()
        exact = entry._q_reproject("bilinear", qbits=None)(
            spark, sf
        ).toPandas()
        q = quant.sort_values(["t", "j", "i"])["value"].to_numpy()
        e = exact.sort_values(["t", "j", "i"])["value"].to_numpy()
        assert len(q) == len(e) == 26 * 36
        # per-index quantum 2**-11 max shift, blend sensitivity bounded by
        # 2 * quantum * max|corner delta|; corner deltas span data vs the
        # -999 fill at swath edges, plus the query's 6-dp output rounding
        max_delta = float(np.nanmax(np.abs(e))) + 999.0
        atol = 2 * max_delta * 2.0**-10 + 1e-6
        np.testing.assert_allclose(q, e, atol=atol)
        # the in-bounds interior (no fill corners, deltas <= data range)
        # must agree far tighter than the global bound
        interior = (q > -900) & (e > -900)
        assert interior.sum() > 500
        data_span = float(np.nanmax(e[interior]) - np.nanmin(e[interior]))
        np.testing.assert_allclose(
            q[interior], e[interior],
            atol=2 * data_span * 2.0**-10 + 1e-6,
        )


class TestGatherInterpFused:
    """gather_interp_fused (cogrouped block kernel) must be value-identical
    to the join+pivot _gather_interp at every num_t, including genuine-NaN
    data, SQL-NULL and absent pixels, out-of-source stencils,
    exact-integer indices (ceil == floor), numeric fills, the
    nearest-skips-int-cast rule, and must emit real NaNs."""

    @pytest.fixture(scope="class", params=[1, 3, 63])
    def data(self, spark, request):
        import pandas as pd

        rng = np.random.default_rng(13)
        src_w, src_h = 33, 41
        src = long_pixels_df(
            spark, rng.normal(size=(src_h, src_w)), request.param,
            nan_px=(5, 6), null_px=(9, 14),
            absent_px={(20, 20), (21, 20), (30, 2)},
        )
        tw, th = 29, 37
        tjj, tii = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
        ix = 1.17 * tii + 0.1 * np.sin(tjj * 0.3) - 2.0
        iy = 1.23 * tjj + 0.2 * np.cos(tii * 0.2) - 1.5
        ix[3, 3] = 7.0
        iy[3, 3] = 9.0
        gpdf = pd.DataFrame(
            {
                "j": tjj.ravel().astype("int32"),
                "i": tii.ravel().astype("int32"),
                "ix": ix.ravel(),
                "iy": iy.ravel(),
            }
        )
        return (
            src,
            spark.createDataFrame(gpdf),
            (src_w, src_h),
            request.param,
        )

    @pytest.mark.parametrize(
        "interp,fill,is_int",
        [
            ("nearest", float("nan"), False),
            ("nearest", -777.0, True),
            ("bilinear", float("nan"), False),
            ("bilinear", -777.0, False),
            ("triangular", float("nan"), False),
        ],
    )
    def test_matches_join_gather(self, spark, data, interp, fill, is_int):
        from pyspark.sql import functions as F

        from xcube_resampling_spark.operators.reproject import (
            gather_interp_fused,
        )

        from .reference_kernels import _gather_interp

        src, grid2d, src_size, num_t = data
        ref = _gather_interp(
            grid2d, src, spark, src_size, num_t, interp, fill, is_int
        ).toPandas().sort_values(["t", "j", "i"]).reset_index(drop=True)
        got_df = gather_interp_fused(
            grid2d, src, spark, src_size, num_t, interp, fill, is_int,
            block_rows=8,
        )
        assert got_df.filter(F.col("value").isNull()).count() == 0
        got = got_df.toPandas().sort_values(
            ["t", "j", "i"]
        ).reset_index(drop=True)
        assert len(ref) == len(got)
        a = ref["value"].to_numpy()
        b = got["value"].to_numpy()
        same = (np.isnan(a) & np.isnan(b)) | (a == b)
        assert same.all(), int((~same).sum())

    def test_matches_join_gather_across_chunk_boundary(self, spark):
        """Round-14 kernel rewrite: the fused kernel interpolates target
        pixels in _TGT_CHUNK-sized chunks; a single cogroup holding MORE
        than one chunk of target pixels (~90k > 65536) must still be
        value-identical to the join+pivot reference."""
        import pandas as pd
        from pyspark.sql import functions as F

        from xcube_resampling_spark.operators.reproject import (
            _TGT_CHUNK,
            gather_interp_fused,
        )

        from .reference_kernels import _gather_interp

        rng = np.random.default_rng(29)
        src_w, src_h = 64, 48
        jj, ii = np.meshgrid(
            np.arange(src_h), np.arange(src_w), indexing="ij"
        )
        val = rng.normal(size=jj.shape)
        val[7, 9] = np.nan
        src = spark.createDataFrame(pd.DataFrame(
            {
                "t": np.zeros(jj.size, "int32"),
                "j": jj.ravel().astype("int32"),
                "i": ii.ravel().astype("int32"),
                "value": val.ravel(),
            }
        ))
        tw, th = 310, 300
        assert tw * th > _TGT_CHUNK
        tjj, tii = np.meshgrid(np.arange(th), np.arange(tw), indexing="ij")
        ix = 0.2 * tii + 0.05 * np.sin(tjj * 0.1) - 1.0
        iy = 0.16 * tjj + 0.07 * np.cos(tii * 0.1) - 1.0
        grid2d = spark.createDataFrame(pd.DataFrame(
            {
                "j": tjj.ravel().astype("int32"),
                "i": tii.ravel().astype("int32"),
                "ix": ix.ravel(),
                "iy": iy.ravel(),
            }
        ))
        ref = _gather_interp(
            grid2d, src, spark, (src_w, src_h), 1, "bilinear",
            float("nan"), False,
        ).toPandas().sort_values(["t", "j", "i"]).reset_index(drop=True)
        # block_rows = src_h: ONE cogroup -> all ~93k targets in one
        # kernel call -> multiple chunks
        got = gather_interp_fused(
            grid2d, src, spark, (src_w, src_h), 1, "bilinear",
            float("nan"), False, block_rows=src_h,
        ).toPandas().sort_values(["t", "j", "i"]).reset_index(drop=True)
        assert len(ref) == len(got) == tw * th
        a = ref["value"].to_numpy()
        b = got["value"].to_numpy()
        same = (np.isnan(a) & np.isnan(b)) | (a == b)
        assert same.all(), int((~same).sum())


def test_gather_interp_fused_two_shuffle_plan(spark):
    """The cogrouped gather's physical plan contains exactly TWO exchanges
    (source rows and target-index rows each bucketed once by block) -- no
    neighbor explode, no pivot shuffle."""
    import pandas as pd
    from pyspark.sql import functions as F

    from xcube_resampling_spark.operators.reproject import (
        gather_interp_fused,
    )

    src = spark.range(100).select(
        F.lit(0).cast("int").alias("t"),
        (F.col("id") / 10).cast("int").alias("j"),
        (F.col("id") % 10).cast("int").alias("i"),
        F.rand(1).alias("value"),
    )
    grid2d = spark.range(64).select(
        (F.col("id") / 8).cast("int").alias("j"),
        (F.col("id") % 8).cast("int").alias("i"),
        (F.col("id") % 8 * 1.2).alias("ix"),
        (F.col("id") / 8 * 1.2).alias("iy"),
    )
    out = gather_interp_fused(
        grid2d, src, spark, (10, 10), 1, "bilinear", float("nan"), False
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2


class TestOutOfSourceSkew:
    """Round-12 skew fix: target pixels entirely outside the source's
    row span scatter round-robin across source blocks instead of
    collapsing into block 0 / last (measured at the 100x bench shape:
    one 12.7 GB straggler worker).  Values must be identical to the
    join-gather reference, and the block assignment must actually
    spread."""

    def test_mostly_uncovered_target_matches_join_gather(self, spark):
        import pandas as pd
        from pyspark.sql import functions as F

        from xcube_resampling_spark.operators.reproject import (
            gather_interp_fused,
        )

        from .reference_kernels import _gather_interp

        rng = np.random.default_rng(7)
        src_w, src_h = 16, 24
        jj, ii = np.meshgrid(np.arange(src_h), np.arange(src_w),
                             indexing="ij")
        src = spark.createDataFrame(pd.DataFrame({
            "t": np.zeros(jj.size, "int32"),
            "j": jj.ravel().astype("int32"),
            "i": ii.ravel().astype("int32"),
            "value": rng.normal(size=jj.size),
        }))
        # 40x60 target, ~85% of it far above/below the source rows
        tw, th = 40, 60
        tjj, tii = np.meshgrid(np.arange(th), np.arange(tw),
                               indexing="ij")
        iy = 4.0 * tjj - 100.0   # spans [-100, 136]; in-range ~ rows 25..31
        ix = 0.5 * tii - 2.0
        grid2d = spark.createDataFrame(pd.DataFrame({
            "j": tjj.ravel().astype("int32"),
            "i": tii.ravel().astype("int32"),
            "ix": ix.ravel(), "iy": iy.ravel(),
        }))
        for interp in ("nearest", "bilinear"):
            ref = _gather_interp(
                grid2d, src, spark, (src_w, src_h), 1, interp,
                float("nan"), False,
            ).toPandas().sort_values(["t", "j", "i"])
            got = gather_interp_fused(
                grid2d, src, spark, (src_w, src_h), 1, interp,
                float("nan"), False, block_rows=8,
            ).toPandas().sort_values(["t", "j", "i"])
            a = ref["value"].to_numpy()
            b = got["value"].to_numpy()
            same = (np.isnan(a) & np.isnan(b)) | (a == b)
            assert same.all(), (interp, int((~same).sum()))

    def test_out_of_range_pixels_spread_over_blocks(self, spark):
        # the bucketing expression itself: out-of-span pixels must hash
        # across ALL n_blk blocks, not clip into 2 edge blocks
        import pandas as pd
        from pyspark.sql import functions as F

        src_h, B = 24, 8  # 3 blocks
        n = 3000
        pdf = pd.DataFrame({
            "j": np.arange(n, dtype="int32"),
            "i": np.zeros(n, dtype="int32"),
            "ix": np.zeros(n), "iy": np.full(n, 1e6),  # all far below
        })
        grid2d = spark.createDataFrame(pdf)
        n_blk = -(-src_h // B)
        iy_in = (F.col("iy") > F.lit(-1.0)) & (
            F.col("iy") < F.lit(float(src_h)))
        blk = F.when(
            iy_in,
            (F.least(F.greatest(F.floor(F.col("iy")), F.lit(0)),
                     F.lit(src_h - 1)) / B).cast("int"),
        ).otherwise(
            F.pmod(F.hash(F.col("j"), F.col("i")), F.lit(n_blk))
            .cast("int"))
        counts = (grid2d.select(blk.alias("blk"))
                  .groupBy("blk").count().toPandas()
                  .set_index("blk")["count"])
        assert set(counts.index) == {0, 1, 2}
        # roughly uniform: no block holds more than half
        assert counts.max() < n * 0.5
