"""CRS reprojection of regular grids.

Parity reference: /root/reference/xcube_resampling/reproject.py:51-530.
The reference transforms each target pixel center into the source CRS
(pyproj), computes fractional source indices and gathers/interpolates
per-tile with padded dense blocks.  Spark formulation:

* target pixel centers are generated distributed and transformed by a single
  Arrow-batched pandas UDF (``_tr``; CRS math cannot be expressed in
  Catalyst),
* fractional source indices are column arithmetic against the source grid
  origin (identical to reproject.py:278-279),
* the gather is one cogrouped ``applyInPandas`` numpy kernel
  (:func:`gather_interp_fused`): source rows and target pixels are both
  bucketed by source j-block, and each block interpolates its targets
  (nearest via banker's rounding like np.rint, bilinear, two-triangle
  'triangular'; reproject.py:281-328) with per-corner bounds checks ->
  fill value in place of the reference's padded blocks
  (reproject.py:499-530),
* if the source is finer than the target (SCALE_LIMIT, reproject.py:338-382)
  the source is first clipped (filter pushdown) and affine-downscaled.

The equi-join formulation of the gather, ``_gather_interp``, lives in
``tests/reference_kernels.py`` as the equivalence reference.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import SCALE_LIMIT, is_int_dtype
from ..crs import CRS, Transformer
from ..dataset import PIXEL_SCHEMA, SparkDataset, Variable, grid_df
from ..gridmapping import GridMapping
from .affine import affine_transform_dataset
from .utils import (
    num_t as num_t_of,
    get_fill_value,
    get_interp_method_str,
    pack_ij,
    pivot_t,
    prep_interp_methods_downscale,
    resampled_shape,
    source_plane,
    unpack_ij,
)

_NOT_IMPLEMENTED_ERROR = (
    "interp_methods must be one of 0, 1, 'nearest', 'bilinear', 'triangular'"
)

# Target pixels per interpolation chunk in gather_interp_fused's kernel
# (see rectify._CAND_CHUNK for the measurement rationale: keep the ~50
# elementwise temporaries cache-resident instead of streaming DRAM).
_TGT_CHUNK = 1 << 16

_TRANSFORMERS: dict[tuple[str, str], Transformer] = {}


def _get_transformer(src_spec: str, dst_spec: str) -> Transformer:
    key = (src_spec, dst_spec)
    tr = _TRANSFORMERS.get(key)
    if tr is None:
        tr = Transformer(CRS.from_spec(src_spec), CRS.from_spec(dst_spec))
        _TRANSFORMERS[key] = tr
    return tr


def transform_coords_df(
    df: DataFrame,
    x_col: str,
    y_col: str,
    src_crs: CRS,
    dst_crs: CRS,
    out_cols: tuple[str, str] = ("sx", "sy"),
) -> DataFrame:
    """Append transformed coordinate columns via an Arrow-batched pandas UDF
    (parity: reference reproject.py:472-496 `_transform_gridpoints`)."""
    src_spec, dst_spec = src_crs.to_spec(), dst_crs.to_spec()
    schema = T.StructType(
        [
            T.StructField(out_cols[0], T.DoubleType()),
            T.StructField(out_cols[1], T.DoubleType()),
        ]
    )

    @F.pandas_udf(schema)
    def _tr(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        tr = _get_transformer(src_spec, dst_spec)
        sx, sy = tr.transform(x.to_numpy(np.float64), y.to_numpy(np.float64))
        return pd.DataFrame({out_cols[0]: sx, out_cols[1]: sy})

    res = df.withColumn("_txy", _tr(F.col(x_col), F.col(y_col)))
    return res.select(
        *[c for c in df.columns],
        F.col(f"_txy.{out_cols[0]}").alias(out_cols[0]),
        F.col(f"_txy.{out_cols[1]}").alias(out_cols[1]),
    )


def flip_j_axis(ds: SparkDataset, gm: GridMapping) -> tuple[SparkDataset, GridMapping]:
    """Reverse the j axis (reference reproject.py:115-118
    ``isel({y: slice(None, None, -1)})``) -- pure index arithmetic."""
    h = gm.height
    new_vars = {}
    for name, var in ds.data_vars.items():
        if var.is_spatial:
            new_vars[name] = var.with_df(
                var.df.withColumn("j", F.lit(h - 1) - F.col("j"))
            )
        else:
            new_vars[name] = var
    y_name = gm.xy_var_names[1]
    coords = dict(ds.coords)
    if y_name in coords:
        coords[y_name] = np.asarray(coords[y_name])[::-1]
    new_ds = SparkDataset(
        spark=ds.spark,
        data_vars=new_vars,
        coords=coords,
        coord_attrs=dict(ds.coord_attrs),
        attrs=dict(ds.attrs),
        yx_dims=ds.yx_dims,
    )
    new_gm = gm.derive(is_j_axis_up=False)
    return new_ds, new_gm


def reproject_dataset(
    source_ds: SparkDataset,
    target_gm: GridMapping,
    source_gm: GridMapping | None = None,
    variables=None,
    interp_methods=None,
    agg_methods=None,
    recover_nans=False,
    fill_values=None,
    index_quantization_bits: int | None = None,
) -> SparkDataset:
    """Reproject a dataset onto a regular target grid in another CRS
    (reference reproject.py:51-186).

    ``index_quantization_bits=b`` snaps the fractional source indices to a
    binary grid of spacing ``2**-b`` (``bround(ix * 2**b) / 2**b``): the
    power-of-two scaling is exact in IEEE arithmetic and half-even rounding
    matches ``np.rint``/``roundbankers``, so two engines whose projection
    transcendentals disagree by ~1 ulp produce *bit-identical* quantized
    indices, which makes every downstream interpolation blend bit-identical
    too.  ``b=10`` (sub-millipixel, spacing ~9.8e-4) is far below any
    interpolation accuracy concern.  ``None`` (default) keeps exact indices.
    """
    if source_gm is None:
        source_gm = source_ds.grid_mapping()
    if source_gm.is_j_axis_up:
        source_ds, source_gm = flip_j_axis(source_ds, source_gm)

    source_ds = source_ds.select_variables(variables)

    transformer = Transformer.from_crs(target_gm.crs, source_gm.crs)

    # pre-downscale when source is finer than target (reproject.py:129-137)
    source_ds, source_gm = _downscale_source_dataset(
        source_ds,
        source_gm,
        target_gm,
        transformer,
        interp_methods,
        agg_methods,
        recover_nans,
    )

    spark = source_ds.spark
    w, h = target_gm.size

    # target pixel centers (t-independent 2-D grid), transformed to the
    # source CRS by the pandas UDF
    grid2d = grid_df(spark, w, h, 1).drop("t")
    x_expr = F.lit(float(target_gm.x_min)) + (
        (F.col("i") + 0.5) * float(target_gm.x_res)
    )
    if target_gm.is_j_axis_up:
        y_expr = F.lit(float(target_gm.y_min)) + (
            (F.col("j") + 0.5) * float(target_gm.y_res)
        )
    else:
        y_expr = F.lit(float(target_gm.y_max)) - (
            (F.col("j") + 0.5) * float(target_gm.y_res)
        )
    grid2d = grid2d.select(
        "j", "i", x_expr.alias("tx"), y_expr.alias("ty")
    )
    grid2d = transform_coords_df(
        grid2d, "tx", "ty", target_gm.crs, source_gm.crs
    )

    # fractional source indices vs the source grid origin (pixel centers)
    x0 = float(np.asarray(source_gm.x_coords)[0])
    y0 = float(np.asarray(source_gm.y_coords)[0])
    x_res = float(source_gm.x_res)
    y_res = float(source_gm.y_res)
    grid2d = grid2d.select(
        "j", "i",
        ((F.col("sx") - x0) / x_res).alias("ix"),
        ((F.col("sy") - y0) / (-y_res)).alias("iy"),
    )
    if index_quantization_bits is not None:
        q = float(1 << index_quantization_bits)
        grid2d = grid2d.select(
            "j", "i",
            (F.bround(F.col("ix") * q) / q).alias("ix"),
            (F.bround(F.col("iy") * q) / q).alias("iy"),
        )

    src_w, src_h = source_gm.size
    yx_dims = (source_gm.xy_dim_names[1], source_gm.xy_dim_names[0])
    new_vars: dict[str, Variable] = {}
    for name, var in source_ds.data_vars.items():
        if var.is_spatial and var.dims[-2:] == yx_dims:
            if len(var.dims) not in (2, 3):
                raise AssertionError(
                    f"Data variable {name} has {len(var.dims)} dimensions."
                )
            interp = get_interp_method_str(interp_methods, name, var.dtype)
            fill = get_fill_value(fill_values, name, var.dtype)
            # the downscale's outputs carry their shape: planes are
            # counted once, on the source, by the downscale
            num_t = num_t_of(source_ds, var)
            # cogrouped single-pass gather (equivalence-tested against the
            # join+pivot _gather_interp in tests/reference_kernels.py)
            df = gather_interp_fused(
                grid2d, var.df, spark, (src_w, src_h), num_t, interp,
                fill, is_int_dtype(var.dtype),
            )
            new_vars[name] = replace(
                var, df=df,
                shape=resampled_shape(var, num_t, target_gm.size),
            )
        elif yx_dims[0] not in var.dims and yx_dims[1] not in var.dims:
            new_vars[name] = var

    x_name, y_name = target_gm.xy_var_names
    coords = {
        k: v
        for k, v in source_ds.coords.items()
        if k not in source_gm.xy_var_names and k != "spatial_ref"
    }
    coords[x_name] = target_gm.x_coords
    coords[y_name] = target_gm.y_coords
    coords["spatial_ref"] = 0
    coord_attrs = {
        k: v for k, v in source_ds.coord_attrs.items() if k in coords
    }
    coord_attrs["spatial_ref"] = target_gm.crs.to_cf()
    return SparkDataset(
        spark=spark,
        data_vars=new_vars,
        coords=coords,
        coord_attrs=coord_attrs,
        attrs=dict(source_ds.attrs),
        yx_dims=(target_gm.xy_dim_names[1], target_gm.xy_dim_names[0]),
    )


def _downscale_source_dataset(
    source_ds: SparkDataset,
    source_gm: GridMapping,
    target_gm: GridMapping,
    transformer: Transformer,
    interp_methods,
    agg_methods,
    recover_nans,
) -> tuple[SparkDataset, GridMapping]:
    """Clip + affine-downscale the source when it is finer than the target
    (reference reproject.py:338-382)."""
    bbox_trans = transformer.transform_bounds(*target_gm.xy_bbox)
    xres_trans = (bbox_trans[2] - bbox_trans[0]) / target_gm.width
    yres_trans = (bbox_trans[3] - bbox_trans[1]) / target_gm.height
    x_scale = source_gm.x_res / xres_trans
    y_scale = source_gm.y_res / yres_trans
    if x_scale < SCALE_LIMIT or y_scale < SCALE_LIMIT:
        bbox_pad = (
            bbox_trans[0] - 2 * source_gm.x_res,
            bbox_trans[1] - 2 * source_gm.y_res,
            bbox_trans[2] + 2 * source_gm.x_res,
            bbox_trans[3] + 2 * source_gm.y_res,
        )
        source_ds, source_gm = clip_dataset_by_bbox(
            source_ds, source_gm, bbox_pad
        )
        w = round(x_scale * source_gm.width)
        h = round(y_scale * source_gm.height)
        downscaled_size = (w if w >= 2 else 2, h if h >= 2 else 2)
        downscale_target_gm = GridMapping.regular(
            size=downscaled_size,
            xy_min=(source_gm.xy_bbox[0], source_gm.xy_bbox[1]),
            xy_res=(xres_trans, yres_trans),
            crs=source_gm.crs,
        )
        source_ds = affine_transform_dataset(
            source_ds,
            downscale_target_gm,
            source_gm=source_gm,
            interp_methods=prep_interp_methods_downscale(interp_methods),
            agg_methods=agg_methods,
            recover_nans=recover_nans,
        )
        x_name, y_name = downscale_target_gm.xy_var_names
        source_gm = GridMapping.from_coords(
            source_ds.coords[x_name], source_ds.coords[y_name],
            downscale_target_gm.crs,
        )
    return source_ds, source_gm


def clip_dataset_by_bbox(
    ds: SparkDataset, gm: GridMapping, bbox
) -> tuple[SparkDataset, GridMapping]:
    """Label-based coordinate clip (reference utils.py:77-124), expressed as
    an index-range filter that Catalyst pushes into the scan."""
    x = np.asarray(gm.x_coords)
    y = np.asarray(gm.y_coords)
    xi = np.nonzero((x >= bbox[0]) & (x <= bbox[2]))[0]
    yi = np.nonzero((y >= bbox[1]) & (y <= bbox[3]))[0]
    if xi.size == 0 or yi.size == 0:
        from ..constants import LOG

        LOG.warning(
            "Clipped dataset contains at least one zero-sized dimension. "
            f"Check if the bounding box {bbox} overlaps the dataset extent."
        )
        # The reference warns and carries on with the (empty) selection
        # (utils.py:77-124); a GridMapping cannot represent a zero-sized
        # grid, so return the dataset unclipped -- downstream resampling
        # yields the same all-fill result, minus the scan-pruning.
        return ds, gm
    i_min, i_max = (int(xi[0]), int(xi[-1])) if xi.size else (0, -1)
    j_min, j_max = (int(yi[0]), int(yi[-1])) if yi.size else (0, -1)
    hw = (j_max - j_min + 1, i_max - i_min + 1)
    new_vars = {}
    for name, var in ds.data_vars.items():
        if var.is_spatial:
            df = var.df.filter(
                (F.col("i") >= i_min) & (F.col("i") <= i_max)
                & (F.col("j") >= j_min) & (F.col("j") <= j_max)
            ).select(
                "t",
                (F.col("j") - j_min).cast("int").alias("j"),
                (F.col("i") - i_min).cast("int").alias("i"),
                "value",
            )
            new_vars[name] = replace(
                var, df=df,
                shape=None if var.shape is None
                else (*var.shape[:-2], *hw),
            )
        else:
            new_vars[name] = var
    x_name, y_name = gm.xy_var_names
    coords = dict(ds.coords)
    coords[x_name] = x[i_min:i_max + 1]
    coords[y_name] = y[j_min:j_max + 1]
    new_ds = SparkDataset(
        spark=ds.spark,
        data_vars=new_vars,
        coords=coords,
        coord_attrs=dict(ds.coord_attrs),
        attrs=dict(ds.attrs),
        yx_dims=ds.yx_dims,
    )
    new_gm = GridMapping.from_coords(
        coords[x_name], coords[y_name], gm.crs,
    )
    return new_ds, new_gm


def gather_interp_fused(
    grid2d: DataFrame,
    src_df: DataFrame,
    spark,
    source_size: tuple[int, int],
    num_t: int,
    interp_method: str,
    fill_value,
    is_int: bool,
    block_rows: int | None = None,
) -> DataFrame:
    """Cogrouped single-pass gather + interpolation of the source
    pixels at the fractional indices (ix, iy) of ``grid2d``.

    Both inputs are bucketed by source j-block (target pixels by
    ``floor(iy) // B``, source rows by ``j // B`` with the first row of
    each block duplicated down so a ``floor/ceil`` stencil never crosses a
    block edge), then ONE cogrouped ``applyInPandas`` evaluates the whole
    nearest/bilinear/triangular interpolation in numpy: two bucketing
    shuffles of unexpanded rows replace the 4-way neighbor explode + join
    + pivot (which shuffled 4 x num_t rows per target pixel).

    Values equal those of the join+pivot reference ``_gather_interp`` in
    tests/reference_kernels.py exactly: nearest rounds
    half-to-even (``bround`` == ``np.rint``) and bounds-checks the rounded
    index; bilinear/triangular read ``floor``/``ceil`` corners with
    per-corner out-of-source -> fill (the reference's padded gather
    blocks, reproject.py:516); SQL NULL / absent pixels -> fill; genuine
    NaN values propagate; int outputs truncate toward zero.
    """
    if interp_method not in ("nearest", "bilinear", "triangular"):
        raise NotImplementedError(
            f"{_NOT_IMPLEMENTED_ERROR}, was '{interp_method}'."
        )
    src_w, src_h = source_size
    fill = float(fill_value)
    if block_rows is None:
        # Scale-adaptive blocking (values are block-invariant --
        # equivalence-tested): ~TWO cogroup keys per core, floor 32
        # rows, instead of the old fixed 64 rows.  Measured on
        # local[32], interleaved A/B, min of warm runs:
        #   1024x1024 -> 1000^2 (headline): fixed64 = 16 groups 1.02 s;
        #     adaptive = 32 groups (floor binds) 0.86-0.93 s;
        #   (5,1024,1024) 5-slice: fixed64 1.73 s (unstable, up to
        #     6 s); adaptive 1.43-1.52 s;
        #   10240x10240 -> 10000^2 (100x): fixed64 = 160 groups
        #     21.6 s; 32 groups 36.5 s (hash collisions of 32 keys
        #     into 32 shuffle partitions idle ~1/3 of the cores while
        #     the busiest task runs 2-3 giant groups serially); 64
        #     groups 19.6 s -- 2 keys/core is the sweet spot where
        #     collision skew averages out but per-group Arrow overhead
        #     stays low.
        # The 4M-px cap bounds the kernel's dense source plane
        # (B * src_w doubles = 32 MB) for giant-width sources;
        # reproject's kernel has no candidate-expansion amplification
        # (unlike rectify's scatter), so its cap can sit above
        # rectify's MAX_BLOCK_PX while staying far under the 2 GB/
        # worker bench bound.
        from .rectify import auto_block_rows

        par = max(
            1, src_df.sparkSession.sparkContext.defaultParallelism
        )
        block_rows = auto_block_rows(
            src_h, src_w, 2 * par, max_block_px=4 << 20
        )
    B = int(block_rows)

    # Shuffle fewer bytes (the cogroup stage is shuffle-bound at 100x:
    # 3.7 GB read + sort + Arrow ser/deser dominate its 160-225 s JVM
    # CPU): (j, i) travel as ONE packed int64 on both sides, and NULL ->
    # fill happens here in the JVM, so the source rows carry no presence
    # column -- absent pixels read fill from the kernel's fill-initialised
    # source plane, and genuine NaNs pass (coalesce replaces only NULL).
    b = F.floor(F.col("j") / B).cast("int")
    src_b = pivot_t(src_df, num_t).select(
        pack_ij(source_size).alias("sp"),
        *[
            F.coalesce(F.col(f"val_{k}"), F.lit(fill)).alias(f"val_{k}")
            for k in range(num_t)
        ],
        F.explode(
            F.when(
                (F.col("j") % B == 0) & (F.col("j") >= B),
                F.array(b, b - 1),
            ).otherwise(F.array(b))
        ).alias("blk"),
    )
    # Target pixels whose stencil can touch the source bucket to the
    # block owning their clipped source row.  Pixels ENTIRELY outside
    # the source's row span (iy <= -1 or iy >= src_h: every floor/ceil/
    # rint index is out of range, so the kernel yields fill in ANY
    # group) are scattered round-robin by pixel hash instead -- with
    # the old clip-into-edge-blocks rule a target only partially
    # covered by the source collapsed ALL uncovered pixels into block
    # 0 / last (measured at the 100x bench shape: one 12.7 GB
    # straggler worker holding tens of millions of fill pixels while
    # 31 cores idled).  Values are identical either way; only the
    # partitioning changes.
    n_blk = max(1, -(-src_h // B))
    iy_in = (F.col("iy") > F.lit(-1.0)) & (F.col("iy") < F.lit(float(src_h)))
    # target (j, i) are int32 grid indices: below 2^31 by type
    tgt_b = grid2d.select(
        pack_ij().alias("tp"),
        "ix", "iy",
        F.when(
            iy_in,
            (F.least(
                F.greatest(F.floor(F.col("iy")), F.lit(0)),
                F.lit(src_h - 1),
            ) / B).cast("int"),
        ).otherwise(
            F.pmod(F.hash(F.col("j"), F.col("i")), F.lit(n_blk))
            .cast("int")
        ).alias("blk"),
    )

    def kernel(src_pdf, tgt_pdf):
        n_tgt = len(tgt_pdf)
        if n_tgt == 0:
            return pd.DataFrame(
                {f.name: [] for f in PIXEL_SCHEMA.fields}
            )
        V, sj_lo, sj_n = source_plane(src_pdf, num_t, src_w, fill)

        ix_all = tgt_pdf["ix"].to_numpy(np.float64)
        iy_all = tgt_pdf["iy"].to_numpy(np.float64)

        def corner(sj, si):
            ok = (
                (sj >= 0) & (sj <= src_h - 1)
                & (si >= 0) & (si <= src_w - 1)
                & (sj >= sj_lo) & (sj < sj_lo + sj_n)
            )
            v = V[
                :,
                np.clip(sj - sj_lo, 0, sj_n - 1),
                np.clip(si, 0, src_w - 1),
            ]
            return np.where(ok[None, :], v, fill)

        # cache-sized target chunks into a preallocated output: the
        # bilinear path streams ~50 elementwise passes per pixel, so
        # chunking keeps every temporary L2/L3-resident instead of
        # round-tripping DRAM (same win as rectify's _CAND_CHUNK;
        # elementwise IEEE math is bit-identical under chunking, and
        # writing out[:, s:e] preserves the exact output row order)
        out = np.empty((num_t, len(ix_all)))
        for s in range(0, len(ix_all), _TGT_CHUNK):
            e = min(s + _TGT_CHUNK, len(ix_all))
            ix = ix_all[s:e]
            iy = iy_all[s:e]
            if interp_method == "nearest":
                si = np.rint(ix).astype(np.int64)
                sj = np.rint(iy).astype(np.int64)
                o = corner(sj, si)
            else:
                i0 = np.floor(ix).astype(np.int64)
                i1 = np.ceil(ix).astype(np.int64)
                j0 = np.floor(iy).astype(np.int64)
                j1 = np.ceil(iy).astype(np.int64)
                fx = ix - i0
                fy = iy - j0
                v00 = corner(j0, i0)
                v01 = corner(j0, i1)
                v10 = corner(j1, i0)
                v11 = corner(j1, i1)
                if interp_method == "bilinear":
                    vu0 = v00 + fx * (v01 - v00)
                    vu1 = v10 + fx * (v11 - v10)
                    o = vu0 + fy * (vu1 - vu0)
                else:  # triangular (reference reproject.py:285-314)
                    closest = v00 + fx * (v01 - v00) + fy * (v10 - v00)
                    opposite = (
                        v11 + (1.0 - fx) * (v10 - v11)
                        + (1.0 - fy) * (v01 - v11)
                    )
                    o = np.where(fx + fy < 1.0, closest, opposite)
                # as in the reference: the int cast applies only
                # to interpolated (blended) outputs; nearest returns the
                # stored value unchanged
                if is_int:
                    o = np.trunc(o)
            out[:, s:e] = o

        tj, ti = unpack_ij(tgt_pdf["tp"].to_numpy(np.int64))
        return pd.DataFrame(
            {
                "t": np.repeat(np.arange(num_t, dtype=np.int32), n_tgt),
                "j": np.tile(tj.astype(np.int32), num_t),
                "i": np.tile(ti.astype(np.int32), num_t),
                "value": out.reshape(num_t * n_tgt),
            }
        )

    out = (
        src_b.groupBy("blk")
        .cogroup(tgt_b.groupBy("blk"))
        .applyInPandas(lambda left, right: kernel(left, right), PIXEL_SCHEMA)
    )
    # Arrow hop NaN -> NULL restoration (operator contract is NaN)
    return out.withColumn(
        "value", F.coalesce(F.col("value"), F.lit(float("nan")))
    )
