"""Rectification of irregular (2-D coordinate) grids.

Parity reference: /root/reference/xcube_resampling/rectify.py:54-773.
The reference scans every source *quad* (4 adjacent swath pixels) with a
sequential Numba kernel, rasterizes candidate target pixels in the quad's
bbox, solves barycentric (u, v) per triangle and writes fractional source
indices first-writer-wins (rectify.py:458-576); a second kernel gathers and
interpolates source values (rectify.py:663-734).

Spark formulation (:func:`rectify_fused_tiled`): two shuffles, two
``applyInPandas`` numpy kernels.

* The coordinates and the per-t values of each source pixel are joined
  into one routing row (:func:`fuse_coords_values`) and shuffled into
  source j-blocks; boundary rows are duplicated so every quad and its
  interpolation stencil are complete in exactly one block.
* ``scatter_kernel`` builds the block's quads, expands each quad's
  clamped pixel bbox into candidate target pixels, solves the barycentric
  test (dets ``_fdet/_fu/_fv``, tolerance UV_DELTA, triangle A then B;
  rectify.py:530-573), keeps the block-local first writer and emits the
  final interpolated per-t values.
* ``densify_kernel`` receives the candidates by target j-block, resolves
  the global first writer -- the reference's sequential scan order
  (j0, i0, triangle) as one packed rank -- and writes the dense,
  fill-completed target block.

This replaces the reference's "slice the whole source array into every
target block" gather (rectify.py:622-630) -- the design note in SURVEY.md
section 4.  The SQL formulation (windows, ``explode``, ``min_by``,
equi-join gather) lives on in ``tests/reference_kernels.py`` as the
equivalence reference.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import (
    SCALE_LIMIT, UV_DELTA, default_fill_value, is_int_dtype,
)
from ..dataset import PIXEL_SCHEMA, SparkDataset, Variable
from ..gridmapping import GridMapping
from ..gridmapping.distributed import GridMappingDF
from .affine import resample_dataset, resample_pixels
from .utils import (
    num_t as num_t_of,
    get_agg_method,
    get_fill_value,
    get_interp_method_int,
    get_interp_method_str,
    get_recover_nan,
    is_equal_crs,
    pack_ij,
    pivot_t,
    prep_interp_methods_downscale,
    resampled_shape,
    unpack_ij,
)

_NOT_IMPLEMENTED_ERROR = (
    "interp_methods must be one of 0, 1, 'nearest', 'bilinear', 'triangular'"
)

COORDS_SCHEMA = T.StructType(
    [
        T.StructField("j", T.IntegerType(), False),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("x", T.DoubleType(), True),
        T.StructField("y", T.DoubleType(), True),
    ]
)


# Per-group PIXEL cap for the fused kernels.  The sizing unit that
# matters is not the dense f8 image (2M px = 16 MB) but the kernel's
# PEAK working set: the long-format Arrow batch -> pandas copy, the
# densified coord/value planes, ~20 quad-sized numpy intermediates in
# the scatter math, and the candidate-expansion arrays together
# amplify a group to ~40x its pixel count in bytes.  Measured at the
# 100x rectify shape (18900-wide swath): 7M-px groups -> ~5.8 GB
# worker RSS, 32 concurrent workers -> system OOM on a 128 GB box.
# 1M px keeps giant-width groups in the regime the 10x bench certified
# fast (its per-core split is ~0.7M px/group).  Head/10x/baseline
# shapes split per-core well under this cap, so their plans and
# measured numbers are unchanged; only giant-width sources bind it.
MAX_BLOCK_PX = 1 << 20


def auto_block_rows(
    n_rows: int, n_cols: int, parallelism: int,
    max_block_px: int = MAX_BLOCK_PX,
) -> int:
    """Row-block height for the fused rectify kernels: ~one group per
    core (measured: per-group Arrow serialization and task-wave skew
    dominate when groups >> cores -- 0.47x vs 1.75x linear at 10x the
    headline scene), bounded by a per-group PIXEL cap so wide sources
    on small clusters can't blow executor memory (``block_rows * width
    <= max_block_px`` whenever the cap, not the 32-row floor, decides),
    with a floor of 32 rows to keep tiny inputs on the tested
    boundary-duplication geometry."""
    par = max(1, int(parallelism))
    return min(
        max(32, -(-int(n_rows) // par)),
        max(32, int(max_block_px) // max(1, int(n_cols))),
    )


def coords_to_df(spark: SparkSession, gm: GridMapping) -> DataFrame:
    """2-D coordinate images -> long-format (j, i, x, y) DataFrame."""
    import pandas as pd

    xy = gm.xy_coords
    h, w = xy.shape[-2], xy.shape[-1]
    jj, ii = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    pdf = pd.DataFrame(
        {
            "j": jj.ravel().astype(np.int32),
            "i": ii.ravel().astype(np.int32),
            "x": xy[0].ravel().astype(np.float64),
            "y": xy[1].ravel().astype(np.float64),
        }
    )
    return spark.createDataFrame(pdf, schema=COORDS_SCHEMA)


def rectify_dataset(
    source_ds: SparkDataset,
    target_gm: GridMapping | None = None,
    source_gm: GridMapping | None = None,
    variables=None,
    interp_methods=None,
    agg_methods=None,
    recover_nans=False,
    fill_values=None,
    tile_size=None,
) -> SparkDataset:
    """Rectify an irregular-grid dataset onto a regular target grid
    (reference rectify.py:54-179)."""
    if source_gm is None:
        source_gm = source_ds.grid_mapping()
    spark = source_ds.spark

    # coordinate images become (or stay) a distributed pixel DataFrame from
    # here on: every downstream step (CRS transform, pre-downscale, scatter)
    # operates on the cluster-resident coords -- no driver round-trips.
    # The one collect below is the CRS-transform branch's grid inference,
    # which needs the transformed resolution (besides num_t's max(t)
    # fallback for a 3-D variable without a time coordinate)
    if isinstance(source_gm, GridMappingDF):
        gm_df = source_gm
    else:
        gm_df = GridMappingDF.from_grid_mapping(
            source_gm, coords_to_df(spark, source_gm)
        )
    if target_gm is None:
        target_gm = gm_df.to_regular(tile_size=tile_size)

    # eager interp validation (reference raises NotImplementedError lazily
    # in the gather kernel; we validate up front)
    for name, var in source_ds.data_vars.items():
        if var.is_spatial:
            m = get_interp_method_str(interp_methods, name, var.dtype)
            if m not in ("nearest", "bilinear", "triangular"):
                raise NotImplementedError(
                    f"{_NOT_IMPLEMENTED_ERROR}, was '{m}'."
                )

    # transform source 2-D coords into the target CRS if needed
    # (reference rectify.py:127-129, 182-231) -- Arrow-batched pandas UDF
    # over the distributed coords, then grid stats re-derived by aggregation
    if not is_equal_crs(gm_df, target_gm):
        from .reproject import transform_coords_df

        coords_t = transform_coords_df(
            gm_df.coords, "x", "y", gm_df.crs, target_gm.crs,
            out_cols=("tx", "ty"),
        ).select(
            "j", "i",
            F.col("tx").alias("x"), F.col("ty").alias("y"),
        )
        gm_df = GridMappingDF.from_coords_df(
            coords_t, target_gm.crs, size=gm_df.size,
            tile_size=gm_df.tile_size,
        )

    source_ds = source_ds.select_variables(variables)

    # pre-downscale when the source is finer than the target
    # (reference rectify.py:136-143, 234-260)
    source_ds, src_coords, (src_w, src_h) = _downscale_source_dataset(
        source_ds, gm_df, target_gm,
        interp_methods, agg_methods, recover_nans,
    )

    yx_dims = (gm_df.xy_dim_names[1], gm_df.xy_dim_names[0])
    # fall back to the dataset's own yx dims (coord-derived names can
    # legitimately differ from the data variables' dim names)
    ds_yx = source_ds.yx_dims

    new_vars: dict[str, Variable] = {}
    for name, var in source_ds.data_vars.items():
        if var.is_spatial and var.dims[-2:] in (yx_dims, ds_yx):
            if len(var.dims) not in (2, 3):
                raise AssertionError(
                    f"Data variable {name} has {len(var.dims)} dimensions."
                )
            interp = get_interp_method_str(interp_methods, name, var.dtype)
            fill = get_fill_value(fill_values, name, var.dtype)
            # the downscale's outputs carry their shape: planes are
            # counted once, on the source, by the downscale
            num_t = num_t_of(source_ds, var)
            # fused two-shuffle pipeline (scatter kernel emits final
            # interpolated values; FWW + densify in the second kernel);
            # tests compare it with the SQL reference in
            # tests/reference_kernels.py
            fused = fuse_coords_values(src_coords, var.df, num_t)
            df = rectify_fused_tiled(
                fused, target_gm, (src_w, src_h), num_t, interp, fill,
                is_int_dtype(var.dtype), UV_DELTA,
            )
            new_vars[name] = replace(
                var, df=df,
                shape=resampled_shape(var, num_t, target_gm.size),
            )
        elif ds_yx[0] not in var.dims and ds_yx[1] not in var.dims:
            new_vars[name] = var

    tcoords = target_gm.to_coords()
    coords = {
        k: v
        for k, v in source_ds.coords.items()
        if k not in gm_df.xy_var_names
        and k not in ("lon", "lat", "spatial_ref")
    }
    coords.update(tcoords)
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


# Candidates per barycentric chunk in the fused scatter kernel.  The
# monolithic form streamed ~36 full passes of 8-byte-per-candidate
# temporaries through DRAM (33 MB each at the 1M-px block cap); chunking
# keeps every temporary L2/L3-resident.  Elementwise IEEE math is
# bit-identical under any chunking.  Measured (100x rectify block,
# 4.16M candidates): candidate pipeline 559 -> 348 ms single-threaded;
# the win grows under 32 concurrent kernels sharing DRAM bandwidth.
# 64k x 8 B = 512 KB per temporary; ~20 live temporaries ~ 10 MB, inside
# the per-core L3 share of any plausible worker.  32k-256k all measured
# within noise of each other; 8k starts paying per-chunk numpy call
# overhead.
_CAND_CHUNK = 1 << 16


def _fww_keep(pix, rank, pix_span, rank_span):
    """First-writer-wins: per distinct ``pix`` value, the index of the
    entry with the smallest ``rank``.

    ``pix`` packs (dst_j, dst_i) and ``rank`` packs the reference's
    sequential scan order (j0, i0, tri), both lexicographically, so
    min(rank) per pix is exactly the reference's first writer.  One
    packed int64 argsort when ``pix * rank_span + rank`` provably fits
    (the common case by orders of magnitude), else a 2-key lexsort --
    either way fewer sort passes than the previous 5-key lexsort.
    (pix, rank) pairs are distinct -- a given (quad, triangle) emits a
    target pixel at most once -- so the unstable argsort cannot tie.
    """
    if 0 < rank_span and pix_span < (1 << 62) // rank_span:
        order = np.argsort(pix * rank_span + rank)
    else:
        order = np.lexsort((rank, pix))
    pix_s = pix[order]
    first = np.empty(len(order), dtype=bool)
    if first.size:
        first[0] = True
    first[1:] = pix_s[1:] != pix_s[:-1]
    return order[first]


def _chunked_point_in_quad(
    ni, nj, bj0c, bi0c,
    c0x, c0y, c1x, c1y, c2x, c2y, c3x, c3y, cda, cdb,
    x_min, x_res, y_off, y_scale, u_min, uv_max,
):
    """Expand per-quad candidate bboxes and solve the barycentric
    point-in-quad test, in cache-sized chunks of quads (~_CAND_CHUNK
    candidates each).

    Inputs are compacted per-valid-quad arrays; returns
    ``(u, v, qh, tri, dj, di)`` over the hits, where ``qh`` indexes the
    compacted quad arrays and u/v are the clipped barycentric
    coordinates (triangle B already mirrored to 1-u/1-v).  The math per
    candidate is the exact expression tree of the monolithic form --
    chunking only bounds temporary sizes.
    """
    counts = ni * nj
    cum = np.cumsum(counts)
    nq = len(counts)
    parts = []
    qs = 0
    done = 0
    while qs < nq:
        qe = min(int(np.searchsorted(cum, done + _CAND_CHUNK, "left")) + 1,
                 nq)
        cc = counts[qs:qe]
        q_loc = np.repeat(np.arange(qs, qe), cc)
        n_c = int(cum[qe - 1] - done)
        offs = np.arange(n_c) - np.repeat(np.cumsum(cc) - cc, cc)
        rq, cq = np.divmod(offs, ni[q_loc])
        dj = bj0c[q_loc] + rq
        di = bi0c[q_loc] + cq
        dx = x_min + (di + 0.5) * x_res
        dy = y_off + (dj + 0.5) * y_scale
        a0x, a0y = c0x[q_loc], c0y[q_loc]
        a1x, a1y = c1x[q_loc], c1y[q_loc]
        a2x, a2y = c2x[q_loc], c2y[q_loc]
        a3x, a3y = c3x[q_loc], c3y[q_loc]
        da, db = cda[q_loc], cdb[q_loc]
        with np.errstate(divide="ignore", invalid="ignore"):
            u_a = ((a0x - dx) * (a0y - a2y) - (a0y - dy) * (a0x - a2x)) / da
            v_a = ((a0y - dy) * (a0x - a1x) - (a0x - dx) * (a0y - a1y)) / da
            ok_a = ((da != 0.0) & (u_a >= u_min) & (v_a >= u_min)
                    & (u_a + v_a <= uv_max))
            u_b = ((a3x - dx) * (a3y - a1y) - (a3y - dy) * (a3x - a1x)) / db
            v_b = ((a3y - dy) * (a3x - a2x) - (a3x - dx) * (a3y - a2y)) / db
            ok_b = ((db != 0.0) & (u_b >= u_min) & (v_b >= u_min)
                    & (u_b + v_b <= uv_max))
        hit = ok_a | ok_b
        if hit.any():
            sel_a = ok_a[hit]
            u = np.where(sel_a, np.clip(u_a[hit], 0.0, 1.0),
                         1.0 - np.clip(u_b[hit], 0.0, 1.0))
            v = np.where(sel_a, np.clip(v_a[hit], 0.0, 1.0),
                         1.0 - np.clip(v_b[hit], 0.0, 1.0))
            parts.append((u, v, q_loc[hit],
                          np.where(sel_a, 0, 1).astype(np.int32),
                          dj[hit], di[hit]))
        done += n_c
        qs = qe
    if not parts:
        return None
    return tuple(
        np.concatenate([p[k] for p in parts]) for k in range(6)
    )


def _fused_match_schema(num_t: int) -> T.StructType:
    """Candidate rows from the scatter kernel to the densify kernel.

    val_0..val_{n-1} are the candidate's FINAL per-t values, with fill
    already applied where a stencil corner was absent, so no presence
    travels on this exchange (only the routing rows into the scatter
    kernel carry presence words).  Wide double columns, as in
    :func:`~.utils.pivot_t`.

    Shuffle fewer bytes (guide section 2.3): the candidate shuffle is the
    bigger of the fused path's two exchanges (one row per surviving
    candidate), and every decision downstream needs only the target pixel
    id and the first-writer-wins rank -- so (dst_j, dst_i) travel as ONE
    packed int64 ``pix`` = dst_j * w + dst_i and (j0, i0, tri) as ONE
    packed int64 ``rank`` = (j0 * src_w + i0) * 2 + tri (exactly the key
    the densify kernel fed to _fww_keep anyway).  5 int fields -> 2 long
    fields; UnsafeRow stores each fixed-width field in an 8-byte slot, so
    this is 3 fewer words per candidate row on the wire."""
    return T.StructType(
        [
            T.StructField("dst_blk", T.IntegerType(), False),
            T.StructField("pix", T.LongType(), False),
            T.StructField("rank", T.LongType(), False),
        ]
        + [
            T.StructField(f"val_{k}", T.DoubleType(), True)
            for k in range(num_t)
        ]
    )


def fuse_coords_values(
    coords: DataFrame, values: DataFrame, num_t: int
) -> DataFrame:
    """Join source coordinate pixels (j, i, x, y) with variable pixels
    (t, j, i, value) into the fused-scatter input
    (j, i, x, y, val_0..val_{num_t-1}).

    One co-keyed shuffle -- the same join the un-fused gather would pay, but
    paid *before* the scatter so the scatter kernel can emit final values.
    A NULL val_k (value NULL, or the (t, j, i) row absent, or the whole
    pixel absent) means "-> fill" downstream, mirroring the inner-join +
    ``coalesce`` semantics of the reference ``gather_var``
    (tests/reference_kernels.py); a NaN double is a genuine
    value and propagates through interpolation.  :func:`rectify_fused_tiled`
    packs NULL-ness into presence words before the Arrow->pandas hop,
    which collapses NULL and NaN.
    """
    v = pivot_t(values, num_t).select(
        F.col("j").alias("vj"), F.col("i").alias("vi"),
        *[F.col(f"val_{k}") for k in range(num_t)],
    )
    return coords.join(
        v, (coords["j"] == v["vj"]) & (coords["i"] == v["vi"]), "left"
    ).select(
        coords["j"], coords["i"], "x", "y",
        *[F.col(f"val_{k}") for k in range(num_t)],
    )


# per-t presence bits per int64 word of rectify's routing rows (the
# words stay non-negative)
_PRES_BITS = 62


def rectify_fused_tiled(
    fused: DataFrame,
    target_gm: GridMapping,
    source_size: tuple[int, int],
    num_t: int = 1,
    interp_method: str = "nearest",
    fill_value: float = float("nan"),
    is_int: bool = False,
    uv_delta: float = UV_DELTA,
    block_rows: int | None = None,
    dst_block_rows: int | None = None,
) -> DataFrame:
    """Scatter + gather + densify in TWO shuffles (reference rectify.py's
    two sequential kernels, 458-576 scatter and 663-734 gather, fused).

    The interpolation stencil of every winning candidate is the quad's own
    corner pixels (nearest: one of the 4 corners; bilinear/triangular: the
    2x2 block at ``floor(src_if), floor(src_jf)`` which lies within the
    quad's two source rows +1), so a j-block that holds the quad's coords
    can also hold its values: the scatter kernel emits *final interpolated
    values*, not fractional indices, and the second kernel resolves global
    first-writer-wins and writes dense fill-completed target blocks.

    Physical plan: one shuffle into source j-blocks (boundary rows j%B<2
    duplicated down so every owned quad sees rows qj..qj+2), one shuffle
    into target j-blocks.  No join against the source table, no join
    against a generated target grid -- both gathers happen inside
    Arrow-batched numpy kernels.  Values are identical to the reference
    ``scatter_from_coords_tiled`` + ``gather_var`` in
    tests/reference_kernels.py (equivalence-tested, including NaN coords,
    missing pixels and u/v == 1.0 edges).
    """
    w, h = target_gm.size
    src_w, src_h = source_size
    x_min = float(target_gm.x_min)
    x_res = float(target_gm.x_res)
    if target_gm.is_j_axis_up:
        y_off = float(target_gm.y_min)
        y_scale = float(target_gm.y_res)
    else:
        y_off = float(target_gm.y_max)
        y_scale = -float(target_gm.y_res)
    u_min = -uv_delta
    uv_max = 1.0 + 2 * uv_delta
    fill = float(fill_value)
    # block sizing rationale + measurements: see auto_block_rows
    par = max(1, fused.sparkSession.sparkContext.defaultParallelism)
    if block_rows is None:
        block_rows = auto_block_rows(src_h, src_w, par)
    if dst_block_rows is None:
        dst_block_rows = auto_block_rows(h, w, par)
    B = int(block_rows)
    DB = int(dst_block_rows)
    if interp_method not in ("nearest", "bilinear", "triangular"):
        raise NotImplementedError(
            f"{_NOT_IMPLEMENTED_ERROR}, was '{interp_method}'."
        )

    match_schema = _fused_match_schema(num_t)

    # Routing shuffle byte-packing (guide section 2.3): (j, i) travel as
    # ONE packed int64, and the per-t presence (val_k NOT NULL) as
    # ceil(num_t / 62) bit-packed int64 words -- each UnsafeRow
    # fixed-width field is an 8-byte slot.  Presence must travel apart
    # from the values: the Arrow->pandas hop turns NULL into NaN, and a
    # stencil with any absent corner yields fill while a genuine NaN
    # propagates.
    n_words = -(-num_t // _PRES_BITS)
    b = F.floor(F.col("j") / B).cast("int")
    blocks = fused.select(
        pack_ij(source_size).alias("sp"),
        "x", "y",
        *[F.col(f"val_{k}") for k in range(num_t)],
        *[
            sum(
                (
                    F.when(F.col(f"val_{k}").isNotNull(),
                           F.lit(1 << (k % _PRES_BITS)).cast("bigint"))
                    .otherwise(F.lit(0).cast("bigint"))
                    for k in range(wd * _PRES_BITS,
                                   min(num_t, (wd + 1) * _PRES_BITS))
                ),
                start=F.lit(0).cast("bigint"),
            ).alias(f"pres_w{wd}")
            for wd in range(n_words)
        ],
        F.explode(
            F.when(
                (F.col("j") % B < 2) & (F.col("j") >= B),
                F.array(b, b - 1),
            ).otherwise(F.array(b))
        ).alias("blk"),
    )

    def scatter_kernel(key, pdf):
        import pandas as pd

        empty = pd.DataFrame(
            {f.name: pd.Series(dtype=object) for f in match_schema.fields}
        )
        if len(pdf) == 0:
            return empty
        blk = int(key[0])
        j_arr, i_arr = unpack_ij(pdf["sp"].to_numpy(np.int64))
        j_lo, i_lo = j_arr.min(), i_arr.min()
        hh = int(j_arr.max() - j_lo + 1)
        ww = int(i_arr.max() - i_lo + 1)
        if hh < 2 or ww < 2:
            return empty
        X = np.full((hh, ww), np.nan)
        Y = np.full((hh, ww), np.nan)
        V = np.full((num_t, hh, ww), np.nan)
        # per-(t, pixel) presence: False = SQL NULL / absent row -> fill;
        # True with NaN in V = genuine NaN value -> propagates
        P = np.zeros((num_t, hh, ww), dtype=bool)
        X[j_arr - j_lo, i_arr - i_lo] = pdf["x"].to_numpy(np.float64)
        Y[j_arr - j_lo, i_arr - i_lo] = pdf["y"].to_numpy(np.float64)
        words = [
            pdf[f"pres_w{wd}"].to_numpy(np.int64) for wd in range(n_words)
        ]
        for k in range(num_t):
            V[k, j_arr - j_lo, i_arr - i_lo] = (
                pdf[f"val_{k}"].to_numpy(np.float64)
            )
            P[k, j_arr - j_lo, i_arr - i_lo] = (
                words[k // _PRES_BITS] >> (k % _PRES_BITS)
            ) & 1

        p0x, p0y = X[:-1, :-1], Y[:-1, :-1]
        p1x, p1y = X[:-1, 1:], Y[:-1, 1:]
        p2x, p2y = X[1:, :-1], Y[1:, :-1]
        p3x, p3y = X[1:, 1:], Y[1:, 1:]

        with np.errstate(invalid="ignore"):
            # full-grid pixel coords ONCE, corner views after -- the same
            # scalar formula per element as the previous per-corner
            # np.stack form (bit-identical), at 1/4 of the floor/divide
            # passes and none of the 4x stacked copies
            PI = np.floor((X - x_min) / x_res)
            PJ = np.floor((Y - y_off) / y_scale)
            NANI = np.isnan(PI)
            NANJ = np.isnan(PJ)
            PI_inf = np.where(NANI, np.inf, PI)
            PJ_inf = np.where(NANJ, np.inf, PJ)
            PI_ninf = np.where(NANI, -np.inf, PI)
            PJ_ninf = np.where(NANJ, -np.inf, PJ)

            def corners(A):
                return A[:-1, :-1], A[:-1, 1:], A[1:, :-1], A[1:, 1:]

            def cmin(A):
                q0, q1, q2, q3 = corners(A)
                return np.minimum(np.minimum(q0, q1), np.minimum(q2, q3))

            def cmax(A):
                q0, q1, q2, q3 = corners(A)
                return np.maximum(np.maximum(q0, q1), np.maximum(q2, q3))

            # NaN-cornered quads: the finite corners' bbox +1 pixel
            # slack (the testable triangle lies inside the finite hull;
            # the slack covers the uv_delta tolerance), never the grid
            # edge -- one swath-edge NaN quad must not enumerate O(W*H)
            # candidates
            q0, q1, q2, q3 = corners(NANI)
            nan_i = (q0 | q1) | (q2 | q3)
            q0, q1, q2, q3 = corners(NANJ)
            nan_j = (q0 | q1) | (q2 | q3)
            min_i = cmin(PI_inf)
            min_j = cmin(PJ_inf)
            bi0 = np.clip(min_i, 0, w - 1)
            bj0 = np.clip(min_j, 0, h - 1)
            fin_i = cmax(PI_ninf)
            fin_j = cmax(PJ_ninf)
            pimax = cmax(PI)  # NaN propagates, as pi.max(0) did
            pjmax = cmax(PJ)
            bi1 = np.where(nan_i, np.clip(fin_i + 1, 0, w - 1),
                           np.clip(pimax, 0, w - 1))
            bj1 = np.where(nan_j, np.clip(fin_j + 1, 0, h - 1),
                           np.clip(pjmax, 0, h - 1))
            det_a = (p0x - p1x) * (p0y - p2y) - (p0x - p2x) * (p0y - p1y)
            det_b = (p3x - p2x) * (p3y - p1y) - (p3x - p1x) * (p3y - p2y)
            det_a = np.nan_to_num(det_a, nan=0.0)
            det_b = np.nan_to_num(det_b, nan=0.0)
            # UNCLIPPED bbox intersection with the target grid: a quad
            # entirely off-grid used to clip onto edge pixels and emit
            # one wasted candidate per quad (each fails point-in-quad,
            # but a swath much larger than its target piles them all
            # into the edge target blocks -- a skew magnet at scale).
            # The reach tested covers everything the clipped bbox could
            # reach before: finite-corner max, +1 slack when a corner
            # is NaN (ei1/ej1 are pre-clip bi1/bj1), PLUS a per-quad
            # tolerance margin -- the point-in-quad test accepts
            # uv in [-uv_delta, 1 + 2*uv_delta], which in pixel units
            # is ~2*uv_delta*extent beyond the bbox, so a huge quad
            # (>= ~0.5/uv_delta target px across) adjacent to the grid
            # edge could legitimately claim an edge pixel through the
            # tolerance; +1 absorbs bbox/uv mapping skew.  A fully-NaN
            # quad has ei1 = -inf and fails, as it effectively did
            # before.
            ei1 = np.where(nan_i, fin_i + 1, pimax)
            ej1 = np.where(nan_j, fin_j + 1, pjmax)
            # +2*uv_delta constant: pi/pj are FLOORED, so the true
            # coordinate reach can exceed the integer extent by up to
            # 2*uv_delta; folding it in keeps the cull provably
            # conservative for any caller-supplied uv_delta, not just
            # the module default (where the +1 absorbed it).
            s_i = (1.0 + 2.0 * uv_delta
                   * (1.0 + np.maximum(ei1 - min_i, 0.0)))
            s_j = (1.0 + 2.0 * uv_delta
                   * (1.0 + np.maximum(ej1 - min_j, 0.0)))
            hits = (
                (ei1 + s_i >= 0) & (min_i - s_i <= w - 1)
                & (ej1 + s_j >= 0) & (min_j - s_j <= h - 1)
            )
            valid = (
                hits & (bi1 >= bi0) & (bj1 >= bj0)
                & ~((det_a == 0.0) & (det_b == 0.0))
            )
        # quad ownership: boundary rows are duplicated into two blocks, so
        # keep only quads whose top row belongs to this block
        qj_global = np.arange(hh - 1) + j_lo
        valid[(qj_global < blk * B) | (qj_global >= (blk + 1) * B), :] = False
        vq_j, vq_i = np.nonzero(valid)
        if vq_j.size == 0:
            return empty

        # compacted per-valid-quad arrays (one fancy-index each); the
        # candidate-level expansion happens inside the chunked helper
        ni = (bi1 - bi0 + 1)[vq_j, vq_i].astype(np.int64)
        nj = (bj1 - bj0 + 1)[vq_j, vq_i].astype(np.int64)
        res = _chunked_point_in_quad(
            ni, nj,
            bj0[vq_j, vq_i].astype(np.int64),
            bi0[vq_j, vq_i].astype(np.int64),
            p0x[vq_j, vq_i], p0y[vq_j, vq_i],
            p1x[vq_j, vq_i], p1y[vq_j, vq_i],
            p2x[vq_j, vq_i], p2y[vq_j, vq_i],
            p3x[vq_j, vq_i], p3y[vq_j, vq_i],
            det_a[vq_j, vq_i], det_b[vq_j, vq_i],
            x_min, x_res, y_off, y_scale, u_min, uv_max,
        )
        if res is None:
            return empty
        u, v, qh, tri, dj_h, di_h = res
        # local first-writer-wins before computing values: min (qj, qi,
        # tri) per target pixel -- vq_j/vq_i ascend with the compacted
        # index, so the in-block rank (vq_j * ww + vq_i) orders exactly
        # as global (qj, qi)
        keep = _fww_keep(
            dj_h * w + di_h,
            (vq_j[qh].astype(np.int64) * ww + vq_i[qh]) * 2 + tri,
            int(w) * int(h), 2 * hh * ww,
        )
        tri = tri[keep]
        dj_k = dj_h[keep]
        di_k = di_h[keep]
        qh_k = qh[keep]

        u_k, v_k = u[keep], v[keep]
        qj_k = vq_j[qh_k] + j_lo
        qi_k = vq_i[qh_k] + i_lo
        src_if = qi_k + u_k
        src_jf = qj_k + v_k
        i0 = np.floor(src_if).astype(np.int64)
        j0 = np.floor(src_jf).astype(np.int64)
        uu = src_if - i0
        vv = src_jf - j0
        i0l, j0l = i0 - i_lo, j0 - j_lo
        # gather (reference rectify.py:663-734): stencil indices
        # stay inside this block (columns are complete; rows qj..qj+2 are
        # present thanks to the 2-row boundary duplication)
        if interp_method == "nearest":
            si = np.where(uu > 0.5, np.minimum(i0 + 1, src_w - 1), i0) - i_lo
            sj = np.where(vv > 0.5, np.minimum(j0 + 1, src_h - 1), j0) - j_lo
            vals = V[:, sj, si]
            present = P[:, sj, si]
        else:
            i1l = np.minimum(i0 + 1, src_w - 1) - i_lo
            j1l = np.minimum(j0 + 1, src_h - 1) - j_lo
            v00 = V[:, j0l, i0l]
            v01 = V[:, j0l, i1l]
            v10 = V[:, j1l, i0l]
            v11 = V[:, j1l, i1l]
            if interp_method == "bilinear":
                vu0 = v00 + uu * (v01 - v00)
                vu1 = v10 + uu * (v11 - v10)
                vals = vu0 + vv * (vu1 - vu0)
                present = (P[:, j0l, i0l] & P[:, j0l, i1l]
                           & P[:, j1l, i0l] & P[:, j1l, i1l])
            else:  # triangular
                closest = v00 + uu * (v01 - v00) + vv * (v10 - v00)
                opposite = (
                    v11 + (1.0 - uu) * (v10 - v11) + (1.0 - vv) * (v01 - v11)
                )
                near = uu + vv < 1.0
                vals = np.where(near, closest, opposite)
                present = np.where(
                    near,
                    P[:, j0l, i0l] & P[:, j0l, i1l] & P[:, j1l, i0l],
                    P[:, j1l, i1l] & P[:, j1l, i0l] & P[:, j0l, i1l],
                )
        if is_int:
            vals = np.trunc(vals)
        vals = np.where(present, vals, fill)  # broadcasts over t
        out = {
            "dst_blk": (dj_k // DB).astype(np.int32),
            # packed shuffle fields (see _fused_match_schema): pix is
            # the target pixel id, rank the global FWW key the densify
            # kernel previously recomputed from (j0, i0, tri)
            "pix": (dj_k.astype(np.int64) * w + di_k).astype(np.int64),
            "rank": ((qj_k.astype(np.int64) * src_w + qi_k) * 2
                     + tri).astype(np.int64),
        }
        for k in range(num_t):
            out[f"val_{k}"] = vals[k]
        return pd.DataFrame(out)

    # Explicit repartition pinned to the exact group count: the kernel
    # stages' cost is per-group numpy compute, not shuffle bytes, so
    # AQE's byte-based coalescing (which folded 32 groups into 16 tasks
    # at 10x scale -- half the cores idle) must not apply.  A
    # user-specified partition count is exempt from AQE coalescing, and
    # hashpartitioning(blk, N) satisfies the groupBy's required
    # distribution, so this replaces (not adds to) the implicit
    # exchange -- plan-asserted exchange counts stay [2, 2].
    # Partition-count choice, all measured at 10x on local[32]:
    # N = #keys hash (this) 9.0-12.7 s steady; 4N hash 14.3 s (empty-
    # partition task + shuffle-fetch overhead); repartitionByRange(N)
    # 22.9 s (its boundary-sampling pass re-executes the upstream
    # transform).  Hash collisions at N = #keys serialize a couple of
    # kernels on the busiest task in theory, but the alternatives'
    # constant costs are larger in practice.
    n_src_blk = max(1, (src_h + B - 1) // B)
    matches = blocks.repartition(n_src_blk, "blk").groupBy(
        "blk"
    ).applyInPandas(scatter_kernel, match_schema)

    # every target block must appear even if it drew no candidates -> union
    # sentinel rows (dst_i = -1, ignored by the kernel) generated without
    # driver memory
    spark = fused.sparkSession
    n_blk = (h + DB - 1) // DB
    sentinels = spark.range(n_blk).select(
        F.col("id").cast("int").alias("dst_blk"),
        # pix = -1 marks the sentinel (a long-typed literal keeps the
        # pandas column int64 -- never NULL, so no float64 widening)
        F.lit(-1).cast("bigint").alias("pix"),
        F.lit(0).cast("bigint").alias("rank"),
        *[
            F.lit(None).cast("double").alias(f"val_{k}")
            for k in range(num_t)
        ],
    )

    def densify_kernel(key, pdf):
        import pandas as pd

        bb = int(key[0])
        j_start = bb * DB
        rows_h = min(DB, h - j_start)
        out = np.full((num_t, rows_h, w), fill)
        real = pdf[pdf["pix"].to_numpy() >= 0]
        if len(real):
            pix = real["pix"].to_numpy(np.int64)
            djr = pix // w
            dir_ = pix - djr * w
            # global first-writer-wins across source blocks: min
            # (j0, i0, tri) per target pixel -- the shuffled rank IS
            # that packed key (see _fused_match_schema)
            win = _fww_keep(
                pix, real["rank"].to_numpy(np.int64),
                int(w) * int(h), 2 * int(src_w) * int(src_h),
            )
            for k in range(num_t):
                out[k, djr[win] - j_start, dir_[win]] = (
                    real[f"val_{k}"].to_numpy(np.float64)[win]
                )
        jj, ii = np.meshgrid(
            np.arange(rows_h, dtype=np.int32), np.arange(w, dtype=np.int32),
            indexing="ij",
        )
        return pd.DataFrame(
            {
                "t": np.repeat(
                    np.arange(num_t, dtype=np.int32), rows_h * w
                ),
                "j": np.tile((jj + j_start).ravel(), num_t),
                "i": np.tile(ii.ravel(), num_t),
                "value": out.reshape(num_t * rows_h * w),
            }
        )

    out = matches.unionByName(sentinels).repartition(
        n_blk, "dst_blk"
    ).groupBy("dst_blk").applyInPandas(densify_kernel, PIXEL_SCHEMA)
    # the Arrow hop converts the kernel's NaN doubles to SQL NULLs (pandas
    # uses NaN as its null sentinel); the operator's contract is NaN --
    # the reference gather_var in tests/reference_kernels.py emits real
    # NaNs -- and no output is legitimately NULL, so restore
    return out.withColumn(
        "value", F.coalesce(F.col("value"), F.lit(float("nan")))
    )


def _downscale_source_dataset(
    source_ds: SparkDataset,
    gm_df: GridMappingDF,
    target_gm: GridMapping,
    interp_methods,
    agg_methods,
    recover_nans,
) -> tuple[SparkDataset, DataFrame, tuple[int, int]]:
    """Affine-downscale the data variables and the 2-D coordinate images
    when the source is finer than the target (reference
    rectify.py:234-260, which resamples the coordinate arrays as (y, x)
    variables of the dataset).

    Returns ``(dataset, coords, size)``: the (j, i, x, y) coordinates and
    the (width, height) of the grid the scatter reads.  x and y ride one
    ``resample_pixels`` call as two planes, with the interp / agg /
    recover-NaN settings that ``"__x__"`` resolves to as a float64
    variable.  No grid is re-inferred: the scatter reads no resolution or
    bbox of the downscaled grid, so nothing here collects."""
    x_scale = gm_df.x_res / target_gm.x_res
    y_scale = gm_df.y_res / target_gm.y_res
    if not (x_scale < SCALE_LIMIT or y_scale < SCALE_LIMIT):
        return source_ds, gm_df.coords, gm_df.size
    w = round(x_scale * gm_df.width)
    h = round(y_scale * gm_df.height)
    downscaled_size = (w if w >= 2 else 2, h if h >= 2 else 2)
    matrix = ((1 / x_scale, 0, 0), (0, 1 / y_scale, 0))
    interp_methods = prep_interp_methods_downscale(interp_methods)

    out = resample_dataset(
        source_ds, matrix, source_ds.yx_dims, downscaled_size, gm_df.size,
        interp_methods, agg_methods, recover_nans,
    )
    xy = resample_pixels(
        source_ds.spark,
        gm_df.coords.select(
            "j", "i", F.col("x").alias("val_0"), F.col("y").alias("val_1")
        ),
        matrix, gm_df.size, downscaled_size, 2,
        get_interp_method_int(interp_methods, "__x__", "float64"),
        get_agg_method(agg_methods, "__x__", "float64"),
        get_recover_nan(recover_nans, "__x__", "float64"),
        default_fill_value("float64"),
        False,
    )
    coords = pivot_t(xy, 2).select(
        "j", "i", F.col("val_0").alias("x"), F.col("val_1").alias("y")
    )
    return out, coords, downscaled_size
