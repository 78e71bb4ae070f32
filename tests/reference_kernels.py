"""Reference formulations of the geo kernels, kept for the tests only.

Each production kernel in ``xcube_resampling_spark.operators`` is an
``applyInPandas`` numpy kernel; the functions here compute the same
values another way and the equivalence tests compare the two exactly:

* rectification: :func:`scatter_from_coords` (quads from two ``lead()``
  windows, candidates from ``explode(sequence(...))``, first-writer-wins
  as ``min_by``), :func:`scatter_from_coords_tiled` (the same scatter as
  one block-local numpy kernel + ``min_by``) and :func:`gather_var` (the
  4-neighbor equi-join gather + densify join) -- the reference for
  ``rectify.rectify_fused_tiled``;
* affine: :func:`_gather` (equi-join gather + pivot) -- the reference for
  ``affine.gather_fused``;
* reprojection: :func:`_gather_interp` (equi-join gather + pivot) -- the
  reference for ``reproject.gather_interp_fused``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from xcube_resampling_spark.constants import UV_DELTA
from xcube_resampling_spark.dataset import grid_df
from xcube_resampling_spark.gridmapping import GridMapping
from xcube_resampling_spark.operators.rectify import _NOT_IMPLEMENTED_ERROR


# -- rectification -----------------------------------------------------
def scatter_from_coords(
    coords: DataFrame,
    target_gm: GridMapping,
    uv_delta: float = UV_DELTA,
) -> DataFrame:
    """Scatter step over an already-distributed coords DataFrame
    (j, i, x, y) -- the scale path: source coordinate images live in the
    cluster, never on the driver."""
    w, h = target_gm.size
    x_min = float(target_gm.x_min)
    x_res = float(target_gm.x_res)
    if target_gm.is_j_axis_up:
        y_off = float(target_gm.y_min)
        y_scale = float(target_gm.y_res)
    else:
        y_off = float(target_gm.y_max)
        y_scale = -float(target_gm.y_res)

    # build quads with two windows: lead over i for the right neighbor, then
    # lead over j for the row below -- two sort-shuffles, no self-join
    win_i = Window.partitionBy("j").orderBy("i")
    rows = coords.select(
        "j", "i", "x", "y",
        F.lead("x").over(win_i).alias("xr"),
        F.lead("y").over(win_i).alias("yr"),
    ).filter(F.col("xr").isNotNull())
    win_j = Window.partitionBy("i").orderBy("j")
    quads = rows.select(
        F.col("j").alias("j0"), F.col("i").alias("i0"),
        F.col("x").alias("p0x"), F.col("y").alias("p0y"),
        F.col("xr").alias("p1x"), F.col("yr").alias("p1y"),
        F.lead("x").over(win_j).alias("p2x"),
        F.lead("y").over(win_j).alias("p2y"),
        F.lead("xr").over(win_j).alias("p3x"),
        F.lead("yr").over(win_j).alias("p3y"),
    ).filter(F.col("p2x").isNotNull())

    # pixel bbox of the quad corners in the target grid.  NaN corners map
    # to NULL (greatest/least skip NULLs -- note Spark's floor(NaN) is a
    # silent 0, which would drag every NaN quad's bbox to the grid origin),
    # so a NaN-cornered quad gets its FINITE corners' bbox +1 pixel slack
    # (the testable triangle lies inside the finite hull; the slack covers
    # the uv_delta tolerance) instead of an O(grid-size) candidate range.
    def pix_i(px):
        return F.when(~F.isnan(px), F.floor((px - x_min) / x_res))

    def pix_j(py):
        return F.when(~F.isnan(py), F.floor((py - y_off) / y_scale))

    corners_i = [pix_i(F.col(c)) for c in ("p0x", "p1x", "p2x", "p3x")]
    corners_j = [pix_j(F.col(c)) for c in ("p0y", "p1y", "p2y", "p3y")]
    nan_x = [F.isnan(F.col(c)) for c in ("p0x", "p1x", "p2x", "p3x")]
    nan_y = [F.isnan(F.col(c)) for c in ("p0y", "p1y", "p2y", "p3y")]
    has_nan_i = nan_x[0] | nan_x[1] | nan_x[2] | nan_x[3]
    has_nan_j = nan_y[0] | nan_y[1] | nan_y[2] | nan_y[3]
    # symmetric 1-pixel slack around the finite hull of a NaN-cornered
    # quad: the uv_delta tolerance (~1e-3) admits points up to
    # uv_delta * quad-extent (< 1 pixel) OUTSIDE the testable triangle on
    # any side, so one pixel each way bounds it; fully-finite quads need
    # none (their bbox already contains the whole quad).  All-NULL
    # corners collapse to an explicitly EMPTY bbox (max < min) via the
    # coalesce fallbacks -- never the full grid row/column -- which the
    # bi1 >= bi0 filter below then drops.
    slack_i = F.when(has_nan_i, F.lit(1)).otherwise(F.lit(0))
    slack_j = F.when(has_nan_j, F.lit(1)).otherwise(F.lit(0))
    i_min = F.greatest(
        F.coalesce(F.least(*corners_i) - slack_i, F.lit(w)), F.lit(0)
    )
    i_max = F.least(
        F.coalesce(F.greatest(*corners_i) + slack_i, F.lit(-1)),
        F.lit(w - 1),
    )
    j_min = F.greatest(
        F.coalesce(F.least(*corners_j) - slack_j, F.lit(h)), F.lit(0)
    )
    j_max = F.least(
        F.coalesce(F.greatest(*corners_j) + slack_j, F.lit(-1)),
        F.lit(h - 1),
    )

    def det(ax, ay, bx, by, cx, cy):
        # reference _fdet (rectify.py:742-745)
        return (ax - bx) * (ay - cy) - (ax - cx) * (ay - by)

    det_a = det(F.col("p0x"), F.col("p0y"), F.col("p1x"), F.col("p1y"),
                F.col("p2x"), F.col("p2y"))
    det_b = det(F.col("p3x"), F.col("p3y"), F.col("p2x"), F.col("p2y"),
                F.col("p1x"), F.col("p1y"))
    det_a = F.when(F.isnan(det_a), F.lit(0.0)).otherwise(det_a)
    det_b = F.when(F.isnan(det_b), F.lit(0.0)).otherwise(det_b)

    q = quads.select(
        "j0", "i0", "p0x", "p0y", "p1x", "p1y", "p2x", "p2y", "p3x", "p3y",
        i_min.cast("int").alias("bi0"), i_max.cast("int").alias("bi1"),
        j_min.cast("int").alias("bj0"), j_max.cast("int").alias("bj1"),
        det_a.alias("det_a"), det_b.alias("det_b"),
    ).filter(
        (F.col("bi1") >= F.col("bi0")) & (F.col("bj1") >= F.col("bj0"))
        & ~((F.col("det_a") == 0.0) & (F.col("det_b") == 0.0))
    )

    # candidate target pixels = explode over the quad's pixel bbox
    cand = q.select(
        "*", F.explode(F.sequence("bj0", "bj1")).alias("dst_j")
    ).select(
        "*", F.explode(F.sequence("bi0", "bi1")).alias("dst_i")
    )

    dst_x = F.lit(x_min) + (F.col("dst_i") + 0.5) * F.lit(x_res)
    dst_y = F.lit(y_off) + (F.col("dst_j") + 0.5) * F.lit(y_scale)

    def fu(px, py, ax, ay, cx, cy):
        # reference _fu (rectify.py:753-754)
        return (ax - px) * (ay - cy) - (ay - py) * (ax - cx)

    def fv(px, py, ax, ay, bx, by):
        # reference _fv (rectify.py:762-763)
        return (ay - py) * (ax - bx) - (ax - px) * (ay - by)

    def clamp01(c: Column) -> Column:
        return F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))

    u_min = -uv_delta
    uv_max = 1.0 + 2 * uv_delta

    # try_divide: det can legitimately be 0 (degenerate triangle / NaN
    # corner); ANSI mode would raise on plain division.  NULL propagates to
    # a false ok_a/ok_b, same as the reference's det != 0 guard.
    u_a = F.try_divide(
        fu(dst_x, dst_y, F.col("p0x"), F.col("p0y"),
           F.col("p2x"), F.col("p2y")), F.col("det_a"))
    v_a = F.try_divide(
        fv(dst_x, dst_y, F.col("p0x"), F.col("p0y"),
           F.col("p1x"), F.col("p1y")), F.col("det_a"))
    ok_a = (
        (F.col("det_a") != 0.0)
        & (u_a >= u_min) & (v_a >= u_min) & (u_a + v_a <= uv_max)
    )
    u_b = F.try_divide(
        fu(dst_x, dst_y, F.col("p3x"), F.col("p3y"),
           F.col("p1x"), F.col("p1y")), F.col("det_b"))
    v_b = F.try_divide(
        fv(dst_x, dst_y, F.col("p3x"), F.col("p3y"),
           F.col("p2x"), F.col("p2y")), F.col("det_b"))
    ok_b = (
        (F.col("det_b") != 0.0)
        & (u_b >= u_min) & (v_b >= u_min) & (u_b + v_b <= uv_max)
    )

    src_i = F.when(ok_a, F.col("i0") + clamp01(u_a)).otherwise(
        F.when(ok_b, F.col("i0") + 1 - clamp01(u_b))
    )
    src_j = F.when(ok_a, F.col("j0") + clamp01(v_a)).otherwise(
        F.when(ok_b, F.col("j0") + 1 - clamp01(v_b))
    )
    tri = F.when(ok_a, F.lit(0)).otherwise(F.lit(1))

    matches = cand.select(
        "dst_j", "dst_i", "j0", "i0", tri.alias("tri"),
        src_i.alias("src_if"), src_j.alias("src_jf"),
    ).filter(F.col("src_if").isNotNull())

    # first-writer-wins: the reference's sequential quad scan (row-major
    # over j0, i0; triangle A before B) -> deterministic min_by
    return matches.groupBy("dst_j", "dst_i").agg(
        F.min_by(
            F.struct("src_if", "src_jf"),
            F.struct("j0", "i0", "tri"),
        ).alias("w")
    ).select(
        "dst_j", "dst_i",
        F.col("w.src_if").alias("src_if"),
        F.col("w.src_jf").alias("src_jf"),
    )


MATCH_SCHEMA = T.StructType(
    [
        T.StructField("dst_j", T.IntegerType(), False),
        T.StructField("dst_i", T.IntegerType(), False),
        T.StructField("j0", T.IntegerType(), False),
        T.StructField("i0", T.IntegerType(), False),
        T.StructField("tri", T.IntegerType(), False),
        T.StructField("src_if", T.DoubleType(), False),
        T.StructField("src_jf", T.DoubleType(), False),
    ]
)


def scatter_from_coords_tiled(
    coords: DataFrame,
    target_gm: GridMapping,
    uv_delta: float = UV_DELTA,
    block_rows: int = 128,
) -> DataFrame:
    """Numpy-vectorized scatter: the fast path of :func:`scatter_from_coords`.

    Identical semantics, different physical plan: coords rows are bucketed
    into j-blocks (boundary rows duplicated into the block above, so every
    quad is complete in exactly one block), each block solves all its quads'
    barycentric systems vectorized in one Arrow-batched kernel, and the
    global first-writer-wins stays a ``min_by`` aggregation.  One shuffle in
    (by block), one shuffle out (by target pixel) -- no windows, no
    candidate explode through codegen.
    """
    w, h = target_gm.size
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

    # each row belongs to block j//B and, if it is a block's first row, also
    # to the previous block (quad rows span two consecutive j values)
    b = F.floor(F.col("j") / block_rows).cast("int")
    blocks = coords.select(
        "j", "i", "x", "y",
        F.explode(
            F.when(
                (F.col("j") % block_rows == 0) & (F.col("j") > 0),
                F.array(b, b - 1),
            ).otherwise(F.array(b))
        ).alias("blk"),
    )

    def kernel(pdf):
        import pandas as pd

        if len(pdf) == 0:
            return pd.DataFrame(
                {f.name: [] for f in MATCH_SCHEMA.fields}
            )
        j_arr = pdf["j"].to_numpy(np.int64)
        i_arr = pdf["i"].to_numpy(np.int64)
        j_lo, i_lo = j_arr.min(), i_arr.min()
        hh = int(j_arr.max() - j_lo + 1)
        ww = int(i_arr.max() - i_lo + 1)
        X = np.full((hh, ww), np.nan)
        Y = np.full((hh, ww), np.nan)
        X[j_arr - j_lo, i_arr - i_lo] = pdf["x"].to_numpy(np.float64)
        Y[j_arr - j_lo, i_arr - i_lo] = pdf["y"].to_numpy(np.float64)
        if hh < 2 or ww < 2:
            return pd.DataFrame(
                {f.name: [] for f in MATCH_SCHEMA.fields}
            )

        # quad corner arrays (reference corner layout rectify.py:497-528)
        p0x, p0y = X[:-1, :-1], Y[:-1, :-1]
        p1x, p1y = X[:-1, 1:], Y[:-1, 1:]
        p2x, p2y = X[1:, :-1], Y[1:, :-1]
        p3x, p3y = X[1:, 1:], Y[1:, 1:]

        with np.errstate(invalid="ignore"):
            # clamped target-pixel bbox per quad.  A NaN corner does NOT
            # invalidate the quad -- the other triangle is still tested
            # (reference rectify.py:529-546: NaN det -> 0).  The bbox of a
            # NaN-cornered quad is the FINITE corners' bbox +1 pixel slack
            # (the testable triangle lies inside the finite corners' hull;
            # the slack covers the uv_delta tolerance), never the grid
            # edge: a single swath-edge NaN quad must not enumerate O(W*H)
            # candidates.
            cx = np.stack([p0x, p1x, p2x, p3x])
            cy = np.stack([p0y, p1y, p2y, p3y])
            pi = np.floor((cx - x_min) / x_res)
            pj = np.floor((cy - y_off) / y_scale)
            nan_i = np.isnan(pi).any(0)
            nan_j = np.isnan(pj).any(0)
            # symmetric 1-pixel slack around the finite hull of a
            # NaN-cornered quad: uv_delta admits points < 1 pixel outside
            # the testable triangle on ANY side (uv_delta * quad extent),
            # so widen min and max alike; all-NaN corners leave the
            # inf/-inf sentinels -> empty bbox after the valid filter
            fin_i0 = np.min(np.where(np.isnan(pi), np.inf, pi), 0)
            fin_j0 = np.min(np.where(np.isnan(pj), np.inf, pj), 0)
            fin_i1 = np.max(np.where(np.isnan(pi), -np.inf, pi), 0)
            fin_j1 = np.max(np.where(np.isnan(pj), -np.inf, pj), 0)
            all_nan_i = np.isinf(fin_i0) & np.isinf(fin_i1)
            all_nan_j = np.isinf(fin_j0) & np.isinf(fin_j1)
            bi0 = np.where(nan_i, np.clip(fin_i0 - 1, 0, w - 1),
                           np.clip(fin_i0, 0, w - 1))
            bj0 = np.where(nan_j, np.clip(fin_j0 - 1, 0, h - 1),
                           np.clip(fin_j0, 0, h - 1))
            bi1 = np.where(nan_i, np.clip(fin_i1 + 1, 0, w - 1),
                           np.clip(pi.max(0), 0, w - 1))
            bj1 = np.where(nan_j, np.clip(fin_j1 + 1, 0, h - 1),
                           np.clip(pj.max(0), 0, h - 1))
            # explicit empty bbox for quads with no finite corner at all
            bi1 = np.where(all_nan_i, -1.0, bi1)
            bj1 = np.where(all_nan_j, -1.0, bj1)
            det_a = (p0x - p1x) * (p0y - p2y) - (p0x - p2x) * (p0y - p1y)
            det_b = (p3x - p2x) * (p3y - p1y) - (p3x - p1x) * (p3y - p2y)
            det_a = np.nan_to_num(det_a, nan=0.0)
            det_b = np.nan_to_num(det_b, nan=0.0)
            valid = (
                (bi1 >= bi0) & (bj1 >= bj0)
                & ~((det_a == 0.0) & (det_b == 0.0))
            )
        vq_j, vq_i = np.nonzero(valid)
        if vq_j.size == 0:
            return pd.DataFrame(
                {f.name: [] for f in MATCH_SCHEMA.fields}
            )

        ni = (bi1 - bi0 + 1)[vq_j, vq_i].astype(np.int64)
        nj = (bj1 - bj0 + 1)[vq_j, vq_i].astype(np.int64)
        counts = ni * nj
        # expand each quad to its candidate pixels, fully vectorized
        q_idx = np.repeat(np.arange(vq_j.size), counts)
        offs = np.arange(counts.sum()) - np.repeat(
            np.cumsum(counts) - counts, counts
        )
        ni_e = ni[q_idx]
        dj = (bj0[vq_j, vq_i].astype(np.int64)[q_idx] + offs // ni_e)
        di = (bi0[vq_j, vq_i].astype(np.int64)[q_idx] + offs % ni_e)

        def at(a):
            return a[vq_j, vq_i][q_idx]

        dx = x_min + (di + 0.5) * x_res
        dy = y_off + (dj + 0.5) * y_scale
        a0x, a0y = at(p0x), at(p0y)
        a1x, a1y = at(p1x), at(p1y)
        a2x, a2y = at(p2x), at(p2y)
        a3x, a3y = at(p3x), at(p3y)
        da, db = at(det_a), at(det_b)

        with np.errstate(divide="ignore", invalid="ignore"):
            u_a = ((a0x - dx) * (a0y - a2y) - (a0y - dy) * (a0x - a2x)) / da
            v_a = ((a0y - dy) * (a0x - a1x) - (a0x - dx) * (a0y - a1y)) / da
            ok_a = (
                (da != 0.0) & (u_a >= u_min) & (v_a >= u_min)
                & (u_a + v_a <= uv_max)
            )
            u_b = ((a3x - dx) * (a3y - a1y) - (a3y - dy) * (a3x - a1x)) / db
            v_b = ((a3y - dy) * (a3x - a2x) - (a3x - dx) * (a3y - a2y)) / db
            ok_b = (
                (db != 0.0) & (u_b >= u_min) & (v_b >= u_min)
                & (u_b + v_b <= uv_max)
            )
        hit = ok_a | ok_b
        if not hit.any():
            return pd.DataFrame(
                {f.name: [] for f in MATCH_SCHEMA.fields}
            )
        sel_a = ok_a[hit]
        u = np.where(sel_a, np.clip(u_a[hit], 0.0, 1.0),
                     1.0 - np.clip(u_b[hit], 0.0, 1.0))
        v = np.where(sel_a, np.clip(v_a[hit], 0.0, 1.0),
                     1.0 - np.clip(v_b[hit], 0.0, 1.0))
        qj = (vq_j[q_idx][hit] + j_lo).astype(np.int32)
        qi = (vq_i[q_idx][hit] + i_lo).astype(np.int32)
        tri = np.where(sel_a, 0, 1).astype(np.int32)
        dj_h = dj[hit].astype(np.int32)
        di_h = di[hit].astype(np.int32)
        # local first-writer-wins: keep the (j0, i0, tri)-smallest match per
        # target pixel within this block; the global min_by then only
        # resolves cross-block overlaps.  Cuts the shuffled row count to
        # <= 1 per (pixel, block).
        order = np.lexsort((tri, qi, qj, di_h, dj_h))
        dj_s, di_s = dj_h[order], di_h[order]
        first = np.ones(len(order), dtype=bool)
        first[1:] = (dj_s[1:] != dj_s[:-1]) | (di_s[1:] != di_s[:-1])
        keep = order[first]
        return pd.DataFrame(
            {
                "dst_j": dj_h[keep],
                "dst_i": di_h[keep],
                "j0": qj[keep],
                "i0": qi[keep],
                "tri": tri[keep],
                "src_if": (qi + u)[keep],
                "src_jf": (qj + v)[keep],
            }
        )

    matches = blocks.groupBy("blk").applyInPandas(
        lambda _, pdf: kernel(pdf), MATCH_SCHEMA
    )
    return matches.groupBy("dst_j", "dst_i").agg(
        F.min_by(
            F.struct("src_if", "src_jf"),
            F.struct("j0", "i0", "tri"),
        ).alias("w")
    ).select(
        "dst_j", "dst_i",
        F.col("w.src_if").alias("src_if"),
        F.col("w.src_jf").alias("src_jf"),
    )


def gather_var(
    spark: SparkSession,
    winners: DataFrame,
    src_df: DataFrame,
    source_size: tuple[int, int],
    target_size: tuple[int, int],
    num_t: int,
    interp_method: str,
    fill_value,
    is_int: bool,
) -> DataFrame:
    """Gather + interpolate source values at fractional indices
    (reference rectify.py:663-734)."""
    src_w, src_h = source_size
    w, h = target_size
    fill = F.lit(float(fill_value)).cast("double")

    i0 = F.floor(F.col("src_if")).cast("int")
    j0 = F.floor(F.col("src_jf")).cast("int")
    u = F.col("src_if") - i0
    v = F.col("src_jf") - j0

    src = src_df.select(
        F.col("t").alias("st"), F.col("j").alias("sj2"),
        F.col("i").alias("si2"), F.col("value").alias("sv"),
    )

    if interp_method == "nearest":
        si = F.when(u > 0.5, F.least(i0 + 1, F.lit(src_w - 1))).otherwise(i0)
        sj = F.when(v > 0.5, F.least(j0 + 1, F.lit(src_h - 1))).otherwise(j0)
        g = winners.select(
            "dst_j", "dst_i", si.alias("si"), sj.alias("sj")
        )
        gathered = g.join(
            src, (g["sj"] == src["sj2"]) & (g["si"] == src["si2"]), "inner"
        ).select(
            F.col("st").alias("t"), "dst_j", "dst_i",
            F.col("sv").alias("value"),
        )
    elif interp_method in ("bilinear", "triangular"):
        i1 = F.least(i0 + 1, F.lit(src_w - 1))
        j1 = F.least(j0 + 1, F.lit(src_h - 1))
        g = winners.select(
            "dst_j", "dst_i", u.alias("u"), v.alias("v"),
            i0.alias("i0"), i1.alias("i1"), j0.alias("j0"), j1.alias("j1"),
        )
        tags = F.array(
            *[
                F.struct(F.lit(dj).alias("dj"), F.lit(di).alias("di"))
                for dj in (0, 1)
                for di in (0, 1)
            ]
        )
        nbrs = g.select(
            "dst_j", "dst_i", "u", "v", F.explode(tags).alias("tag"),
            "i0", "i1", "j0", "j1",
        ).select(
            "dst_j", "dst_i", "u", "v",
            F.col("tag.dj").alias("dj"), F.col("tag.di").alias("di"),
            F.when(F.col("tag.dj") == 0, F.col("j0"))
            .otherwise(F.col("j1")).alias("sj"),
            F.when(F.col("tag.di") == 0, F.col("i0"))
            .otherwise(F.col("i1")).alias("si"),
        )
        joined = nbrs.join(
            src, (nbrs["sj"] == src["sj2"]) & (nbrs["si"] == src["si2"]),
            "inner",
        )

        def pick(dj, di):
            return F.max(
                F.when(
                    (F.col("dj") == dj) & (F.col("di") == di), F.col("sv")
                )
            )

        piv = joined.groupBy("st", "dst_j", "dst_i", "u", "v").agg(
            pick(0, 0).alias("v00"),
            pick(0, 1).alias("v01"),
            pick(1, 0).alias("v10"),
            pick(1, 1).alias("v11"),
        )
        uu, vv = F.col("u"), F.col("v")
        v00, v01 = F.col("v00"), F.col("v01")
        v10, v11 = F.col("v10"), F.col("v11")
        if interp_method == "bilinear":
            vu0 = v00 + uu * (v01 - v00)
            vu1 = v10 + uu * (v11 - v10)
            value = vu0 + vv * (vu1 - vu0)
        else:  # triangular (reference rectify.py:699-717)
            closest = v00 + uu * (v01 - v00) + vv * (v10 - v00)
            opposite = (
                v11 + (1.0 - uu) * (v10 - v11) + (1.0 - vv) * (v01 - v11)
            )
            value = F.when(uu + vv < 1.0, closest).otherwise(opposite)
        gathered = piv.select(
            F.col("st").alias("t"), "dst_j", "dst_i", value.alias("value")
        )
    else:
        raise NotImplementedError(
            f"{_NOT_IMPLEMENTED_ERROR}, was '{interp_method}'."
        )

    if is_int:
        gathered = gathered.withColumn(
            "value", F.col("value").cast("long").cast("double")
        )

    # densify: every target pixel present, unassigned -> fill
    full = grid_df(spark, w, h, num_t)
    out = full.join(
        gathered,
        (full["t"] == gathered["t"]) & (full["j"] == gathered["dst_j"])
        & (full["i"] == gathered["dst_i"]),
        "left",
    )
    return out.select(
        full["t"], full["j"], full["i"],
        F.coalesce(gathered["value"], fill).alias("value"),
    )


# -- affine ------------------------------------------------------------
def _gather(
    grid: DataFrame,
    src_df: DataFrame,
    matrix4: tuple[float, float, float, float],
    source_size: tuple[int, int],
    interp_method: int,
    recover_nan: bool,
    fill_value,
    idx_cols: tuple[str, str],
) -> DataFrame:
    """Evaluate the order-0/1 spline gather as join + expressions.

    ``idx_cols`` names the (row, col) columns of *grid* used as target array
    indices; output keeps grid's (t, j, i).
    """
    i_scale, i_off, j_scale, j_off = matrix4
    src_w, src_h = source_size
    fill = F.lit(float(fill_value)).cast("double")
    jj, ii = (F.col(idx_cols[0]), F.col(idx_cols[1]))

    src_if = (F.lit(float(i_scale)) * ii + F.lit(float(i_off)))
    src_jf = (F.lit(float(j_scale)) * jj + F.lit(float(j_off)))

    if interp_method == 0:
        si = F.floor(src_if + 0.5).cast("int")
        sj = F.floor(src_jf + 0.5).cast("int")
        g = grid.select(
            "t", "j", "i", si.alias("si"), sj.alias("sj"),
            (
                (si >= 0) & (si <= src_w - 1) & (sj >= 0) & (sj <= src_h - 1)
            ).alias("in_b"),
        )
        src = src_df.select(
            F.col("t").alias("st"), F.col("j").alias("sj2"),
            F.col("i").alias("si2"), F.col("value").alias("sv"),
        )
        joined = g.join(
            src,
            (g["t"] == src["st"]) & (g["sj"] == src["sj2"])
            & (g["si"] == src["si2"]),
            "left",
        )
        return joined.select(
            "t", "j", "i",
            F.when(
                F.col("in_b"), F.coalesce(F.col("sv"), fill)
            ).otherwise(fill).alias("value"),
        )

    # bilinear (order 1)
    in_b = (
        (src_if >= 0) & (src_if <= src_w - 1)
        & (src_jf >= 0) & (src_jf <= src_h - 1)
    )
    i0 = F.least(F.floor(src_if), F.lit(src_w - 2)).cast("int")
    j0 = F.least(F.floor(src_jf), F.lit(src_h - 2)).cast("int")
    fx = src_if - i0
    fy = src_jf - j0

    g = grid.select(
        "t", "j", "i",
        i0.alias("i0"), j0.alias("j0"),
        fx.alias("fx"), fy.alias("fy"), in_b.alias("in_b"),
    ).filter(F.col("in_b"))  # out-of-bounds pixels re-added as fill below

    tags = F.array(
        *[
            F.struct(F.lit(dj).alias("dj"), F.lit(di).alias("di"))
            for dj in (0, 1)
            for di in (0, 1)
        ]
    )
    nbrs = g.select(
        "t", "j", "i", "fx", "fy",
        F.explode(tags).alias("tag"),
        "i0", "j0",
    ).select(
        "t", "j", "i", "fx", "fy",
        F.col("tag.dj").alias("dj"), F.col("tag.di").alias("di"),
        (F.col("j0") + F.col("tag.dj")).alias("sj"),
        (F.col("i0") + F.col("tag.di")).alias("si"),
    )
    src = src_df.select(
        F.col("t").alias("st"), F.col("j").alias("sj2"),
        F.col("i").alias("si2"), F.col("value").alias("sv"),
    )
    joined = nbrs.join(
        src,
        (nbrs["t"] == src["st"]) & (nbrs["sj"] == src["sj2"])
        & (nbrs["si"] == src["si2"]),
        "left",
    ).select(
        "t", "j", "i", "fx", "fy", "dj", "di",
        F.coalesce(F.col("sv"), fill).alias("sv"),
    )

    def pick(dj, di):
        return F.max(
            F.when((F.col("dj") == dj) & (F.col("di") == di), F.col("sv"))
        )

    piv = joined.groupBy("t", "j", "i", "fx", "fy").agg(
        pick(0, 0).alias("v00"),
        pick(0, 1).alias("v01"),
        pick(1, 0).alias("v10"),
        pick(1, 1).alias("v11"),
    )

    fx_c, fy_c = F.col("fx"), F.col("fy")

    def blend(v00, v01, v10, v11):
        vu0 = v00 + fx_c * (v01 - v00)
        vu1 = v10 + fx_c * (v11 - v10)
        return vu0 + fy_c * (vu1 - vu0)

    if recover_nan:
        def z(c):  # NaN -> 0 (zero-filled image)
            return F.when(F.isnan(c), F.lit(0.0)).otherwise(c)

        def m(c):  # inverse NaN mask
            return F.when(F.isnan(c), F.lit(0.0)).otherwise(F.lit(1.0))

        scaled = blend(*[z(F.col(c)) for c in ("v00", "v01", "v10", "v11")])
        norm = blend(*[m(F.col(c)) for c in ("v00", "v01", "v10", "v11")])
        value = F.when(
            F.abs(norm) <= F.lit(1e-8), F.lit(float("nan"))
        ).otherwise(scaled / norm)
    else:
        value = blend(
            F.col("v00"), F.col("v01"), F.col("v10"), F.col("v11")
        )

    computed = piv.select("t", "j", "i", value.alias("value"))

    # re-add out-of-bounds target pixels as fill
    oob = grid.select(
        "t", "j", "i",
        i0.alias("_i0"), src_if.alias("_sif"), src_jf.alias("_sjf"),
    ).filter(~(
        (F.col("_sif") >= 0) & (F.col("_sif") <= src_w - 1)
        & (F.col("_sjf") >= 0) & (F.col("_sjf") <= src_h - 1)
    )).select("t", "j", "i", fill.alias("value"))
    return computed.unionByName(oob)


# -- reprojection ------------------------------------------------------
def _gather_interp(
    grid2d: DataFrame,
    src_df: DataFrame,
    spark,
    source_size: tuple[int, int],
    num_t: int,
    interp_method: str,
    fill_value,
    is_int: bool,
) -> DataFrame:
    """Join-based gather + interpolation expressions
    (reference reproject.py:268-335 `_reproject_block`)."""
    src_w, src_h = source_size
    fill = F.lit(float(fill_value)).cast("double")

    ts = spark.range(num_t).select(F.col("id").cast("int").alias("t"))
    grid = grid2d.crossJoin(ts)

    src = src_df.select(
        F.col("t").alias("st"), F.col("j").alias("sj2"),
        F.col("i").alias("si2"), F.col("value").alias("sv"),
    )

    if interp_method == "nearest":
        si = F.bround(F.col("ix")).cast("int")
        sj = F.bround(F.col("iy")).cast("int")
        g = grid.select(
            "t", "j", "i", si.alias("si"), sj.alias("sj"),
            (
                (si >= 0) & (si <= src_w - 1) & (sj >= 0) & (sj <= src_h - 1)
            ).alias("in_b"),
        )
        joined = g.join(
            src,
            (g["t"] == src["st"]) & (g["sj"] == src["sj2"])
            & (g["si"] == src["si2"]),
            "left",
        )
        return joined.select(
            "t", "j", "i",
            F.when(
                F.col("in_b"), F.coalesce(F.col("sv"), fill)
            ).otherwise(fill).alias("value"),
        )

    if interp_method not in ("bilinear", "triangular"):
        raise NotImplementedError(
            f"{_NOT_IMPLEMENTED_ERROR}, was '{interp_method}'."
        )

    i0 = F.floor(F.col("ix")).cast("int")
    i1 = F.ceil(F.col("ix")).cast("int")
    j0 = F.floor(F.col("iy")).cast("int")
    j1 = F.ceil(F.col("iy")).cast("int")
    g = grid.select(
        "t", "j", "i",
        i0.alias("i0"), i1.alias("i1"), j0.alias("j0"), j1.alias("j1"),
        (F.col("ix") - i0).alias("fx"),
        (F.col("iy") - j0).alias("fy"),
    )
    tags = F.array(
        *[
            F.struct(F.lit(dj).alias("dj"), F.lit(di).alias("di"))
            for dj in (0, 1)
            for di in (0, 1)
        ]
    )
    nbrs = g.select(
        "t", "j", "i", "fx", "fy", F.explode(tags).alias("tag"),
        "i0", "i1", "j0", "j1",
    ).select(
        "t", "j", "i", "fx", "fy",
        F.col("tag.dj").alias("dj"), F.col("tag.di").alias("di"),
        F.when(F.col("tag.dj") == 0, F.col("j0"))
        .otherwise(F.col("j1")).alias("sj"),
        F.when(F.col("tag.di") == 0, F.col("i0"))
        .otherwise(F.col("i1")).alias("si"),
    )
    joined = nbrs.join(
        src,
        (nbrs["t"] == src["st"]) & (nbrs["sj"] == src["sj2"])
        & (nbrs["si"] == src["si2"]),
        "left",
    ).select(
        "t", "j", "i", "fx", "fy", "dj", "di",
        # out-of-source neighbors read the fill value, like the padded
        # gather blocks of the reference (reproject.py:516)
        F.coalesce(F.col("sv"), fill).alias("sv"),
    )

    def pick(dj, di):
        return F.max(
            F.when((F.col("dj") == dj) & (F.col("di") == di), F.col("sv"))
        )

    piv = joined.groupBy("t", "j", "i", "fx", "fy").agg(
        pick(0, 0).alias("v00"),
        pick(0, 1).alias("v01"),
        pick(1, 0).alias("v10"),
        pick(1, 1).alias("v11"),
    )
    fx, fy = F.col("fx"), F.col("fy")
    v00, v01 = F.col("v00"), F.col("v01")
    v10, v11 = F.col("v10"), F.col("v11")
    if interp_method == "bilinear":
        vu0 = v00 + fx * (v01 - v00)
        vu1 = v10 + fx * (v11 - v10)
        value: Column = vu0 + fy * (vu1 - vu0)
    else:  # triangular (reference reproject.py:285-314)
        closest = v00 + fx * (v01 - v00) + fy * (v10 - v00)
        opposite = v11 + (1.0 - fx) * (v10 - v11) + (1.0 - fy) * (v01 - v11)
        value = F.when(fx + fy < 1.0, closest).otherwise(opposite)
    if is_int:
        # numpy assignment into an int-dtype output truncates toward zero
        value = value.cast("long").cast("double")
    return piv.select("t", "j", "i", value.alias("value"))
