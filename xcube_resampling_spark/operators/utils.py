"""Per-variable parameter resolution and shared operator helpers.

Parity reference: /root/reference/xcube_resampling/utils.py:181-332
(per-variable interp/agg/recover/fill resolution keyed by variable name or
dtype, with dtype-driven defaults) and utils.py:77-124 (bbox clip).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import (
    INTERP_METHOD_MAPPING,
    LOG,
    default_agg_method,
    default_fill_value,
    default_interp_method,
)
from ..gridmapping import GridMapping


def _lookup(mapping, key: str, dtype: str):
    """Mapping lookup by variable name, then by dtype (as str or np.dtype)."""
    if key in mapping:
        return mapping[key]
    if dtype in mapping:
        return mapping[dtype]
    try:
        import numpy as np

        np_dtype = np.dtype(dtype)
        for k, v in mapping.items():
            try:
                if not isinstance(k, str) and np.dtype(k) == np_dtype:
                    return v
            except TypeError:
                continue
    except TypeError:
        pass
    return None


def get_interp_method_int(interp_methods, var_name: str, dtype: str) -> int:
    m = get_interp_method(interp_methods, var_name, dtype)
    if isinstance(m, str):
        m = INTERP_METHOD_MAPPING[m]
    return m


def get_interp_method_str(interp_methods, var_name: str, dtype: str) -> str:
    m = get_interp_method(interp_methods, var_name, dtype)
    if isinstance(m, int):
        m = INTERP_METHOD_MAPPING[m]
    return m


def get_interp_method(interp_methods, var_name: str, dtype: str):
    if isinstance(interp_methods, Mapping):
        m = _lookup(interp_methods, var_name, dtype)
        if m is None:
            LOG.warning(
                "Interpolation method could not be derived for %r; "
                "defaults assigned.", var_name,
            )
            m = default_interp_method(dtype)
        return m
    if isinstance(interp_methods, (int, str)):
        return interp_methods
    return default_interp_method(dtype)


def get_agg_method(agg_methods, var_name: str, dtype: str) -> str:
    if isinstance(agg_methods, Mapping):
        m = _lookup(agg_methods, var_name, dtype)
        if m is None:
            LOG.warning(
                "Aggregation method could not be derived for %r; "
                "defaults assigned.", var_name,
            )
            m = default_agg_method(dtype)
        return m
    if isinstance(agg_methods, str):
        return agg_methods
    return default_agg_method(dtype)


def get_recover_nan(recover_nans, var_name: str, dtype: str) -> bool:
    if isinstance(recover_nans, Mapping):
        m = _lookup(recover_nans, var_name, dtype)
        return bool(m) if m is not None else False
    if isinstance(recover_nans, bool):
        return recover_nans
    return False


def get_fill_value(fill_values, var_name: str, dtype: str):
    if isinstance(fill_values, Mapping):
        m = _lookup(fill_values, var_name, dtype)
        return m if m is not None else default_fill_value(dtype)
    if fill_values is not None:
        return fill_values
    return default_fill_value(dtype)


def num_t(dataset, var) -> int:
    """Extent of a 3-D variable's leading (time) dimension.

    Read, in order, from the coordinate length, the variable's
    ``shape[0]`` (every reader and operator sets it -- the reference
    takes every extent from the array shape, which xarray always
    knows), and, for a hand-built frame without a shape, the data
    itself (max t + 1, one Spark job); silently assuming 1 would drop
    every t > 0 plane.

    KNOWN LIMIT of the data-derived fallback, so of hand-built frames
    only: a TRAILING plane with no coverage at all (every pixel absent
    in the long format) is indistinguishable from a shorter axis, so
    it is dropped rather than emitted all-fill.  Give such a variable
    its ``shape``, or a coordinate for the leading dim (any values;
    only its length is read), when trailing empty planes must survive.
    """
    if len(var.dims) < 3:
        return 1
    t_coord = dataset.coords.get(var.dims[0])
    if t_coord is not None:
        return len(t_coord)
    if var.shape is not None:
        return int(var.shape[0])
    row = var.df.agg(F.max("t").alias("mt")).collect()[0]
    return int(row.mt) + 1 if row.mt is not None else 1


def resampled_shape(var, num_t: int, size: tuple[int, int]):
    """``var.shape`` after resampling onto a (w, h) grid ``size`` with
    ``num_t`` planes: ``(h, w)`` or ``(num_t, h, w)`` in dims order."""
    w, h = size
    return (h, w) if len(var.dims) < 3 else (num_t, h, w)


def pivot_t(values: DataFrame, num_t: int) -> DataFrame:
    """Long (t, j, i, value) pixels -> one row per pixel
    (j, i, val_0..val_{num_t-1}).

    Wide double columns, not an array column: Arrow list columns cost a
    Python object per row on the pandas side, wide columns are zero-copy
    numpy views.  A (t, j, i) row that is absent or NULL gives a NULL
    val_t.  num_t == 1 is a pure projection -- no shuffle; so is a frame
    that is already wide (j, i, val_0..val_{num_t-1}), such as rectify's
    x/y coordinate pair."""
    if "val_0" in values.columns:
        return values.select(
            "j", "i", *[f"val_{k}" for k in range(num_t)]
        )
    if num_t == 1:
        return values.select("j", "i", F.col("value").alias("val_0"))
    return values.groupBy("j", "i").agg(
        *[
            F.max(F.when(F.col("t") == k, F.col("value"))).alias(f"val_{k}")
            for k in range(num_t)
        ]
    )


_IJ_SHIFT = 31
_IJ_LIMIT = 1 << 31


def pack_ij(*sizes: tuple[int, int]):
    """Pixel indices (j, i) as ONE int64 shuffle field j * 2^31 + i.

    Each UnsafeRow fixed-width field is an 8-byte slot, so the pack
    saves one word per routed row; the kernel decodes it with
    :func:`unpack_ij` (a shift and a mask).  The pack is exact only for
    0 <= i, j < 2^31: raises ``ValueError`` on the driver when any of
    the (width, height) ``sizes`` of the grids being packed reaches
    2^31."""
    for w, h in sizes:
        if not (0 <= w < _IJ_LIMIT and 0 <= h < _IJ_LIMIT):
            raise ValueError(
                f"grid size {(w, h)} cannot pack (j, i) into one int64: "
                f"width and height must be below 2^{_IJ_SHIFT}"
            )
    return (
        F.col("j").cast("bigint") * F.lit(_IJ_LIMIT).cast("bigint")
        + F.col("i")
    )


def unpack_ij(packed):
    """Inverse of :func:`pack_ij` on a numpy int64 array: (j, i)."""
    return packed >> _IJ_SHIFT, packed & (_IJ_LIMIT - 1)


def source_plane(pdf, num_t: int, src_w: int, fill: float):
    """Dense (num_t, sj_n, src_w) block of the routed source rows
    (``sp`` = packed (j, i), ``val_0..val_{num_t-1}``) spanning source
    rows sj_lo .. sj_lo + sj_n - 1; pixels without a row read ``fill``.

    Returns (V, sj_lo, sj_n); an empty ``pdf`` gives a one-row all-fill
    plane."""
    import numpy as np

    if not len(pdf):
        return np.full((num_t, 1, src_w), fill), 0, 1
    sj, si = unpack_ij(pdf["sp"].to_numpy(np.int64))
    sj_lo = int(sj.min())
    sj_n = int(sj.max()) - sj_lo + 1
    V = np.full((num_t, sj_n, src_w), fill)
    for k in range(num_t):
        V[k, sj - sj_lo, si] = pdf[f"val_{k}"].to_numpy(np.float64)
    return V, sj_lo, sj_n


def prep_interp_methods_downscale(interp_methods):
    """triangular -> bilinear when downscaling
    (reference utils.py:239-251)."""
    if interp_methods == "triangular":
        return "bilinear"
    if isinstance(interp_methods, Mapping) and (
        "triangular" in interp_methods.values()
    ):
        return {
            k: ("bilinear" if v == "triangular" else v)
            for k, v in interp_methods.items()
        }
    return interp_methods


def can_apply_affine_transform(source_gm: GridMapping,
                               target_gm: GridMapping) -> bool:
    """(reference utils.py:181-189)"""
    GridMapping.assert_regular(source_gm, name="source_gm")
    GridMapping.assert_regular(target_gm, name="target_gm")
    return is_equal_crs(source_gm, target_gm)


def is_equal_crs(source_gm: GridMapping, target_gm: GridMapping) -> bool:
    """Parity: reference utils.py:187-189, EXCEPT the both-geographic
    shortcut applies only to plain lat-lon CRSs: a rotated-pole grid is
    degree-based (pyproj calls it geographic) but still needs the pole
    rotation to reach true lon/lat.

    Compares definitions only (kind, ellipsoid, params, towgs84), never
    display names -- PROJ's "equivalent" test, which the reference's
    pyproj ``==`` applies: a UTM CRS read back from CF attributes is
    named "Transverse Mercator" but is the same CRS."""
    src, dst = source_gm.crs, target_gm.crs
    if src.kind == "geographic" and dst.kind == "geographic":
        return True
    return (
        src.kind == dst.kind
        and src.ellipsoid == dst.ellipsoid
        and src.params == dst.params
        and src.towgs84 == dst.towgs84
    )


def ij_bboxes_containment(
    coords_df, bboxes_df, xy_border: float = 0.0, ij_border: int = 0,
    size: tuple[int, int] | None = None,
):
    """Distributed ij-bbox computation: for each xy bbox, the (i, j) index
    bbox of the coordinate pixels it contains.

    Parity: reference bboxes.py:28-106 -- a Numba ``prange`` scan of the
    whole coordinate image per box (O(boxes x pixels) on one node).  Here it
    is a broadcast range-containment join + one map-side-combinable
    aggregation: the coordinate image never leaves the cluster, and the
    per-box reduction is a single shuffle of partial min/max rows.

    coords_df: (j, i, x, y); bboxes_df: (box_id, x_min, y_min, x_max, y_max).
    Returns (box_id, i_min, j_min, i_max, j_max), exclusive maxima, clamped
    to ``size`` when given; boxes with no contained pixel are absent
    (the reference returns (-1,-1,-1,-1) -- recover with a left join).
    """
    from pyspark.sql import functions as F

    b = F.broadcast(bboxes_df)
    joined = coords_df.join(
        b,
        (coords_df["x"] >= b["x_min"] - xy_border)
        & (coords_df["x"] <= b["x_max"] + xy_border)
        & (coords_df["y"] >= b["y_min"] - xy_border)
        & (coords_df["y"] <= b["y_max"] + xy_border),
    )
    agg = joined.groupBy("box_id").agg(
        F.min("i").alias("i_lo"), F.min("j").alias("j_lo"),
        F.max("i").alias("i_hi"), F.max("j").alias("j_hi"),
    )
    i_min = F.greatest(F.col("i_lo") - ij_border, F.lit(0))
    j_min = F.greatest(F.col("j_lo") - ij_border, F.lit(0))
    i_max = F.col("i_hi") + 1 + ij_border
    j_max = F.col("j_hi") + 1 + ij_border
    if size is not None:
        w, h = size
        i_max = F.least(i_max, F.lit(w))
        j_max = F.least(j_max, F.lit(h))
    return agg.select(
        "box_id",
        i_min.cast("int").alias("i_min"), j_min.cast("int").alias("j_min"),
        i_max.cast("int").alias("i_max"), j_max.cast("int").alias("j_max"),
    )
