"""Temporal resampling operators over relational cubes.

The spatial operators in this package cover the reference's
``resample_in_space`` surface (reference resampler.py:40-117); a user of
that ecosystem invariably also runs its temporal twin (xcube's public
``resample_in_time``: downsample a time axis with reducers, upsample with
nearest/linear interpolation) plus the two classic EO time-axis ops it
composes with: forward gap-filling and best-pixel compositing.  This module
re-expresses all four Spark-first over the package's relational cube model
(rows = ``(t, j, i, value)``; ``t`` is the frame label, e.g. epoch days).

Scale design (the 100-TB contract):

* **Downsampling** (`resample_time_agg`) is ONE map-side-combinable
  ``groupBy(bucket, j, i)`` -- Catalyst's partial aggregation means each
  executor combines its local frames before the single exchange; no
  per-frame pass, no driver traffic.
* **Upsampling** (`resample_time_interp`) gathers by weighted sum: the
  time axis is metadata-sized (thousands of frames for a decades-long
  daily cube), so the target->source bracket mapping is computed
  driver-side and **broadcast**; pixels join it (zero shuffle -- broadcast
  hash join) and ONE ``groupBy(t_out, j, i)`` sums ``value * weight``.
  Linear interpolation, nearest, and exact-hit passthrough are all just
  different weight tables; NaN brackets propagate through the sum exactly
  like xarray's linear interp.
* **Forward fill** (`forward_fill_time`) is ONE shuffle by pixel key plus
  a sorted window scan (``last(..., ignorenulls=True)``) -- the classic
  gap-fill; partitioning by (j, i) spreads uniformly at any raster size.
* **Compositing** (`composite_best_pixel`) is ONE map-side-combinable
  ``max_by`` -- the max-NDVI / min-cloud "best pixel" mosaic; the
  (score, -t) struct key makes ties deterministic (earliest frame wins)
  so results are partitioning-invariant.

None of these collect pixel data to the driver; the only driver-side
object is the frame-label axis (already metadata in every query here,
same status as the grid mapping in the spatial operators).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def _nan_to_null(c: Column) -> Column:
    return F.when(F.isnan(c), F.lit(None).cast("double")).otherwise(c)


# ---------------------------------------------------------------------------
# downsampling: reducers over time buckets
# ---------------------------------------------------------------------------

TIME_REDUCERS = (
    "mean", "median", "min", "max", "sum", "std", "var", "count",
    "first", "last",
)

# resample_in_time: past this many frames the frame<->label mappings
# switch from literal array/map expressions to broadcast-joined label
# tables -- a 100k-frame axis as literals is 100k nodes in one
# expression tree (plan bloat + codegen limits); as a broadcast join
# it is a k-row table and the plan stays O(1) in axis length.
LABEL_TABLE_THRESHOLD = 10_000


def resample_time_agg(
    pixels: DataFrame,
    method: str,
    period: int,
    time_col: str = "t",
    value_col: str = "value",
    key_cols: Sequence[str] = ("j", "i"),
) -> DataFrame:
    """Downsample the time axis: one output frame per ``period`` of ``t``.

    Output frames are labeled by BIN START in the input unit
    (``floor(t / period) * period`` -- xcube's ``resample_in_time``
    convention), so the result's time axis composes with unresampled
    data: a daily cube at period=30 yields frames 0, 30, 60, ...
    Reducers
    are NaN-aware the way xarray's skipna=True reducers are: NaN
    observations are skipped; an all-NaN bucket yields NaN (``sum`` -> 0.0,
    ``count`` -> 0 valid observations).  ``first``/``last`` pick the
    earliest/latest *valid* observation in the bucket (min_by/max_by on
    ``t`` over NaN-filtered rows -- deterministic because ``t`` is unique
    per pixel).

    One map-side-combinable shuffle; no window materialization.
    """
    t = F.col(time_col).cast("long")
    # FLOOR division in exact integer arithmetic: (t - pmod(t, p)) / p.
    # A double round-trip (floor(t / p)) would lose exactness above
    # 2**53 (epoch-nanosecond labels are ~1.7e18), and a plain cast
    # truncates toward zero, putting pre-epoch labels (negative t,
    # e.g. climate records before 1970) into a double-width bucket 0.
    p = F.lit(period).cast("long")
    pmod = ((t % p) + p) % p
    bucket = (t - pmod).alias(time_col)  # bin start, input units
    nv = _nan_to_null(F.col(value_col))
    keys = [bucket, *(F.col(k) for k in key_cols)]

    if method == "mean":
        agg = F.avg(nv)
    elif method == "median":
        agg = F.percentile(nv, F.lit(0.5))
    elif method == "min":
        agg = F.min(nv)
    elif method == "max":
        agg = F.max(nv)
    elif method == "sum":
        agg = F.coalesce(F.sum(nv), F.lit(0.0))
    elif method == "std":
        # stddev_pop is NULL only for zero valid rows (n=1 gives 0.0),
        # and the shared coalesce below maps that to NaN
        agg = F.stddev_pop(nv)
    elif method == "var":
        agg = F.var_pop(nv)
    elif method == "count":
        # valid (non-NaN) observations -- xarray's count, NOT the spatial
        # coarsen count (np.count_nonzero, coarsen.py:83)
        agg = F.count(nv).cast("double")
    elif method == "first":
        agg = F.min_by(nv, F.when(nv.isNotNull(), t))
    elif method == "last":
        agg = F.max_by(nv, F.when(nv.isNotNull(), t))
    else:
        raise ValueError(f"invalid time reducer {method!r}")

    if method not in ("sum", "count"):
        agg = F.coalesce(agg, F.lit(float("nan")))
    return pixels.groupBy(*keys).agg(agg.alias(value_col))


# ---------------------------------------------------------------------------
# upsampling: interpolation as a broadcast weighted gather
# ---------------------------------------------------------------------------

def interp_weights(
    source_times: Sequence[int],
    target_times: Sequence[int],
    method: str,
) -> list[tuple[int, int, float]]:
    """Driver-side bracket mapping: ``(t_src, t_out, weight)`` rows.

    ``linear``: a target strictly between frames gets both brackets with
    the usual lerp weights; an exact frame hit gets one row of weight 1.
    ``nearest``: one row of weight 1 for the closest frame (ties -> the
    earlier frame, matching xarray's default tie direction for
    ``method="nearest"`` with equal distances).

    Targets outside the source span raise -- extrapolation is a silent
    data-quality bug at scale, so it is refused loudly here (callers clip
    their target axis first).
    """
    axis = sorted(source_times)
    if len(axis) != len(set(axis)):
        raise ValueError("duplicate source frame labels")
    if len(target_times) != len(set(target_times)):
        # a duplicated target would double its weights through the
        # gather's SUM -- and the relational output keyed by (t, j, i)
        # cannot represent two copies of one frame anyway
        raise ValueError("duplicate target frame labels")
    rows: list[tuple[int, int, float]] = []
    for t_out in target_times:
        if t_out < axis[0] or t_out > axis[-1]:
            raise ValueError(
                f"target time {t_out} outside source span"
                f" [{axis[0]}, {axis[-1]}]"
            )
        # rightmost frame <= t_out
        lo = max(s for s in axis if s <= t_out)
        hi = min(s for s in axis if s >= t_out)
        if method == "nearest":
            pick = lo if (t_out - lo) <= (hi - t_out) else hi
            rows.append((pick, t_out, 1.0))
        elif method == "linear":
            if lo == hi:
                rows.append((lo, t_out, 1.0))
            else:
                w = (t_out - lo) / (hi - lo)
                rows.append((lo, t_out, 1.0 - w))
                rows.append((hi, t_out, w))
        else:
            raise ValueError(f"invalid interp method {method!r}")
    return rows


def resample_time_interp(
    pixels: DataFrame,
    source_times: Sequence[int],
    target_times: Sequence[int],
    method: str = "linear",
    time_col: str = "t",
    value_col: str = "value",
    key_cols: Sequence[str] = ("j", "i"),
) -> DataFrame:
    """Upsample / re-grid the time axis by interpolation.

    The weight table from :func:`interp_weights` is broadcast (it has at
    most ``2 * len(target_times)`` rows); pixels broadcast-join it on the
    source frame label, then ONE ``groupBy(t_out, key)`` sums
    ``value * weight``.  The physical plan is exactly one shuffle
    Exchange (the groupBy) plus one BroadcastExchange (the weight
    table, never a data-sized shuffle); bench.py pins both counts.
    A NaN in either bracket propagates to NaN, exactly xarray's
    linear-interp semantics.

    Sparse cubes are handled like NaN frames: if a pixel is MISSING the
    row for one of a target's bracket frames (absent chunk, filtered
    frame), the gather counts how many bracket rows actually joined
    against the driver-known expectation and emits NaN instead of a
    silently scaled-down partial sum.  When every target expects the
    same bracket count (the common case: all targets strictly between
    frames, or method="nearest" where it is always 1), the expectation
    is a LITERAL in the aggregate -- no ``n_exp`` column rides the
    broadcast row and no ``first()`` buffer rides the shuffle.
    """
    spark = pixels.sparkSession
    rows = interp_weights(source_times, target_times, method)
    n_exp: dict[int, int] = {}
    for _, t_out, _ in rows:
        n_exp[t_out] = n_exp.get(t_out, 0) + 1
    uniform = len(set(n_exp.values())) == 1
    if uniform:
        mapping = spark.createDataFrame(
            rows, f"{time_col} long, t_out long, weight double"
        )
        expected = F.lit(next(iter(n_exp.values())))
    else:
        mapping = spark.createDataFrame(
            [(ts, to, w, n_exp[to]) for ts, to, w in rows],
            f"{time_col} long, t_out long, weight double, n_exp int",
        )
        expected = F.first("n_exp")
    joined = pixels.join(F.broadcast(mapping), time_col)
    keys = [F.col("t_out").alias(time_col), *(F.col(k) for k in key_cols)]
    return joined.groupBy(*keys).agg(
        F.when(
            F.count(F.lit(1)) == expected,
            F.sum(F.col(value_col) * F.col("weight")),
        ).otherwise(F.lit(float("nan"))).alias(value_col)
    )


# ---------------------------------------------------------------------------
# gap filling and compositing
# ---------------------------------------------------------------------------

def forward_fill_time(
    pixels: DataFrame,
    time_col: str = "t",
    value_col: str = "value",
    key_cols: Sequence[str] = ("j", "i"),
) -> DataFrame:
    """Fill NaN observations from the latest earlier valid frame.

    ``last(value, ignorenulls=True)`` over a per-pixel time-ordered window
    (rows unbounded-preceding .. current).  Leading gaps (no earlier valid
    frame) stay NaN.  One shuffle, by pixel key.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = F.last(_nan_to_null(F.col(value_col)), ignorenulls=True).over(w)
    return pixels.select(
        time_col, *key_cols,
        F.coalesce(filled, F.lit(float("nan"))).alias(value_col),
    )


def composite_best_pixel(
    pixels: DataFrame,
    score_col: str = "value",
    time_col: str = "t",
    value_col: str = "value",
    key_cols: Sequence[str] = ("j", "i"),
) -> DataFrame:
    """Best-pixel mosaic: per pixel, the frame with the highest score.

    The max-NDVI / min-cloud composite (negate the score for "min").  NaN
    observations are never candidates; a pixel with no valid frame is
    absent from the output (callers union a fill frame if they need dense
    coverage).  Tie-break: equal scores pick the EARLIEST frame, so the
    result is partitioning- and input-order-invariant.  One
    map-side-combinable ``max_by`` shuffle.
    """
    valid = pixels.filter(~F.isnan(F.col(score_col)))
    picked = F.max_by(
        F.struct(F.col(time_col), F.col(value_col)),
        F.struct(F.col(score_col), -F.col(time_col)),
    ).alias("picked")
    out = valid.groupBy(*key_cols).agg(picked)
    return out.select(
        F.col(f"picked.{time_col}").alias(time_col),
        *key_cols,
        F.col(f"picked.{value_col}").alias(value_col),
    )




def backward_fill_time(
    pixels: DataFrame,
    time_col: str = "t",
    value_col: str = "value",
    key_cols: Sequence[str] = ("j", "i"),
) -> DataFrame:
    """Fill NaN observations from the earliest LATER valid frame --
    the mirror of :func:`forward_fill_time` (``first(...,
    ignorenulls=True)`` over the current-row..unbounded-following
    frame).  Trailing gaps stay NaN.  One shuffle, by pixel key."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(time_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = F.first(
        _nan_to_null(F.col(value_col)), ignorenulls=True
    ).over(w)
    return pixels.select(
        time_col, *key_cols,
        F.coalesce(filled, F.lit(float("nan"))).alias(value_col),
    )


def interpolate_na_time(
    pixels: DataFrame,
    time_col: str = "t",
    value_col: str = "value",
    key_cols: Sequence[str] = ("j", "i"),
) -> DataFrame:
    """Linearly interpolate NaN observations between the bracketing
    valid frames -- xarray's ``interpolate_na(dim="time",
    method="linear")``.  Leading/trailing gaps (no bracket on one
    side) stay NaN.

    Two window passes over ONE pixel-key shuffle: the previous valid
    (t, value) via ``last ignorenulls`` over preceding rows, the next
    valid pair via ``first ignorenulls`` over following rows, then the
    lerp is plain arithmetic.  No join, no UDF."""
    nv = _nan_to_null(F.col(value_col))
    vt = F.when(nv.isNotNull(), F.col(time_col).cast("long"))
    prev_w = (
        Window.partitionBy(*key_cols)
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    next_w = (
        Window.partitionBy(*key_cols)
        .orderBy(time_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    pv = F.last(nv, ignorenulls=True).over(prev_w)
    pt = F.last(vt, ignorenulls=True).over(prev_w)
    nx = F.first(nv, ignorenulls=True).over(next_w)
    nt_ = F.first(vt, ignorenulls=True).over(next_w)
    t = F.col(time_col).cast("long")
    lerp = F.when(
        nv.isNotNull(), nv                      # valid: passthrough
    ).when(
        pv.isNotNull() & nx.isNotNull(),
        pv + (nx - pv) * (t - pt) / (nt_ - pt),
    )
    return pixels.select(
        time_col, *key_cols,
        F.coalesce(lerp, F.lit(float("nan"))).alias(value_col),
    )


def rolling_time_agg(
    pixels: DataFrame,
    method: str,
    window: int,
    time_col: str = "t",
    value_col: str = "value",
    key_cols: Sequence[str] = ("j", "i"),
    frame: str = "range",
    min_periods: int | None = None,
    center: bool = False,
) -> DataFrame:
    """Trailing (or centered) rolling reducer over the time axis.

    ``frame="range"`` (default): each frame aggregates the
    observations with ``t`` in ``(t - window, t]`` -- a RANGE frame,
    so irregular axes weight by actual time distance (what a 100-TB
    ingest with uneven revisit times actually needs).
    ``frame="rows"``: each frame aggregates the trailing ``window``
    OBSERVATIONS -- xarray's ``rolling(time=n)`` semantics, for users
    porting xarray code to this engine.  ``center=True`` (rows mode
    only) labels the window at its center instead -- xarray/pandas
    ``center=True``, spanning ``[i - n//2, i + (n-1)//2]`` rows (the
    even-window extra element sits BEFORE the label, as in pandas).

    ``min_periods`` is the minimum number of VALID (non-NaN)
    observations the frame must hold, else the output is NaN --
    xarray's ``min_periods``.  Defaults preserve each mode's native
    convention: 0 for ``range`` (every window reduces: NaN for
    mean/min/max of nothing, the identities 0.0/0 for sum/count),
    ``window`` for ``rows`` (xarray's default: a value only once the
    window is full of valid observations).

    NaN observations are skipped by the reducer; a window failing
    ``min_periods`` yields NaN for every method.  One pixel-key
    shuffle either way."""
    if method not in ("mean", "min", "max", "sum", "count"):
        raise ValueError(f"invalid rolling reducer {method!r}")
    if window < 1:
        # an inverted frame would silently return empty-window
        # results everywhere
        raise ValueError(f"window must be >= 1, got {window}")
    if frame not in ("range", "rows"):
        raise ValueError(f"frame must be 'range' or 'rows', not {frame!r}")
    if center and frame != "rows":
        # a centered RANGE frame is a different operator (symmetric
        # label-distance window); refuse rather than silently ignore
        raise ValueError("center=True requires frame='rows'")
    if min_periods is None:
        min_periods = 0 if frame == "range" else window
    elif min_periods < 0:
        raise ValueError(f"min_periods must be >= 0, got {min_periods}")
    elif frame == "rows" and min_periods > window:
        # a rows frame holds at most `window` observations, so the
        # gate could never pass -- all-NaN output with no error
        # (xarray raises the same way)
        raise ValueError(
            f"min_periods ({min_periods}) must be <= window "
            f"({window}) for a rows frame"
        )
    nv = _nan_to_null(F.col(value_col))
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(time_col).cast("long"))
    )
    if frame == "range":
        w = w.rangeBetween(-(window - 1), Window.currentRow)
    elif center:
        # pandas/xarray put the extra element of an EVEN window
        # BEFORE the label: rows [i - n//2, i + (n-1)//2]
        w = w.rowsBetween(-(window // 2), (window - 1) // 2)
    else:
        w = w.rowsBetween(-(window - 1), Window.currentRow)
    agg = {
        "mean": F.avg(nv), "min": F.min(nv), "max": F.max(nv),
        "sum": F.sum(nv), "count": F.count(nv),
    }[method].over(w)
    if method == "count":
        agg = agg.cast("double")
    elif method == "sum":
        agg = F.coalesce(agg, F.lit(0.0))
    if min_periods > 0:
        agg = F.when(F.count(nv).over(w) >= min_periods, agg)
    out = F.coalesce(agg, F.lit(float("nan")))
    return pixels.select(
        time_col, *key_cols, out.alias(value_col)
    )


# ---------------------------------------------------------------------------
# dataset-level dispatcher (the xcube resample_in_time call shape)


def _resolve_time_method(methods, name: str, valid, kind: str) -> str:
    """Per-variable method resolution for the dataset dispatcher: a
    plain string applies to every variable; a mapping is looked up by
    variable name with ``"*"`` as the default key.  Unknown method
    names raise -- a typo like ``'medain'`` must never silently
    degrade to a different reducer."""
    if isinstance(methods, str):
        m = methods
    elif isinstance(methods, Mapping):
        m = methods.get(name, methods.get("*"))
        if m is None:
            m = "mean" if kind == "agg" else "linear"
    elif methods is None:
        m = "mean" if kind == "agg" else "linear"
    else:
        raise TypeError(f"{kind}_methods must be a str or mapping")
    if m not in valid:
        raise ValueError(
            f"invalid time {kind} method {m!r} for variable {name!r} "
            f"(valid: {', '.join(valid)})"
        )
    return m


def _np_time_agg(data, frame_bins, n_out: int, method: str):
    """Driver-side bucket reducer along axis 0 for non-pixel variables
    (e.g. dims ('time',) or ('time', 'bnds') metadata arrays) -- the
    same NaN-aware semantics as :func:`resample_time_agg`."""
    import numpy as np

    out_shape = (n_out,) + data.shape[1:]
    out = np.full(out_shape, np.nan, dtype="float64")
    data = data.astype("float64")
    with np.errstate(invalid="ignore"):
        for b in range(n_out):
            sel = data[frame_bins == b]
            if sel.size == 0:
                continue
            valid = ~np.isnan(sel)
            if method == "sum":
                out[b] = np.nansum(sel, axis=0)
            elif method == "count":
                out[b] = valid.sum(axis=0)
            elif method in ("first", "last"):
                idx = (np.argmax(valid, axis=0) if method == "first"
                       else sel.shape[0] - 1
                       - np.argmax(valid[::-1], axis=0))
                picked = np.take_along_axis(
                    sel, idx[None, ...], axis=0)[0]
                picked = np.where(valid.any(axis=0), picked, np.nan)
                out[b] = picked
            else:
                fn = {"mean": np.nanmean, "median": np.nanmedian,
                      "min": np.nanmin, "max": np.nanmax,
                      "std": np.nanstd, "var": np.nanvar}[method]
                all_nan = ~valid.any(axis=0)
                import warnings

                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", RuntimeWarning)
                    red = fn(sel, axis=0)
                out[b] = np.where(all_nan, np.nan, red)
    return out


def resample_in_time(
    source_ds,
    period: int | None = None,
    agg_methods="mean",
    target_times: Sequence[int] | None = None,
    interp_methods="linear",
    time_dim: str | None = None,
):
    """Resample a :class:`~xcube_resampling_spark.dataset.SparkDataset`
    along its time dimension -- the temporal twin of
    ``resample_in_space`` (operators/spatial.py:17), with xcube's
    ``resample_in_time`` call shape.

    Exactly one of ``period`` (downsample with reducers) or
    ``target_times`` (re-grid by interpolation) must be given.
    ``agg_methods`` / ``interp_methods`` take a single method name or
    a per-variable mapping (variable name -> method; ``"*"`` is the
    default key).  Unknown method names raise.

    Frame labels come from ``coords[time_dim]``: integer arrays are
    used as-is, ``datetime64`` arrays are converted to int64 in their
    own unit (so ``period`` / ``target_times`` are in that unit) and
    the output coordinate is converted back.  Without a coordinate the
    frame index is the label.  Pixel variables go through the
    single-shuffle operators above; DRIVER-SIDE variables that carry
    the time dimension (e.g. ``('time', 'bnds')`` metadata arrays) are
    transformed with the same NaN-aware numpy semantics so the dataset
    stays internally consistent; variables without the time dimension
    pass through untouched.

    Scale: the label axis is driver-side metadata (same status as the
    grid mapping); the frame->label and label->output-frame mappings
    are ``element_at``/``create_map`` over driver-side literals -- no
    extra shuffle, no UDF.  Past ``LABEL_TABLE_THRESHOLD`` frames the
    literal forms would bloat the plan and whole-stage codegen (a
    100k-frame high-cadence axis is 100k literals in one expression
    tree), so both mappings switch to a broadcast-joined label table
    -- still zero shuffle (broadcast hash join), same results.
    """
    from dataclasses import replace as _replace

    import numpy as np

    from xcube_resampling_spark.operators.utils import num_t

    if (period is None) == (target_times is None):
        raise ValueError(
            "exactly one of period / target_times must be given"
        )

    if time_dim is None:
        time_dim = next(
            (v.dims[0] for v in source_ds.data_vars.values()
             if len(v.dims) == 3),
            "time",
        )

    # --- frame labels (driver-side metadata)
    coord = source_ds.coords.get(time_dim)
    dt_unit = None
    if coord is not None:
        coord = np.asarray(coord)
        if np.issubdtype(coord.dtype, np.datetime64):
            dt_unit = np.datetime_data(coord.dtype)[0]
        labels = coord.astype("int64")
    else:
        nt = max(
            (num_t(source_ds, v)
             for v in source_ds.data_vars.values()
             if v.is_spatial and len(v.dims) == 3
             and v.dims[0] == time_dim),
            default=0,
        )
        labels = np.arange(nt, dtype="int64")
    label_list = [int(x) for x in labels]
    use_tables = len(label_list) > LABEL_TABLE_THRESHOLD

    # --- output axis + label->output-index map (both driver-side)
    if period is not None:
        bin_start = [x - ((x % period) + period) % period
                     for x in label_list]
        starts = sorted(set(bin_start))
        out_idx = {s: k for k, s in enumerate(starts)}
        frame_bins = np.asarray([out_idx[s] for s in bin_start])
        out_labels = np.asarray(starts, dtype="int64")
    else:
        if len(target_times) != len(set(target_times)):
            raise ValueError("duplicate target frame labels")
        tt = [int(x) for x in target_times]
        out_labels = np.asarray(tt, dtype="int64")
        out_idx = {x: k for k, x in enumerate(tt)}

    # the two mapping tables depend only on the axis, not the
    # variable -- build them ONCE, outside the per-variable loop (a
    # wide dataset would otherwise pay one createDataFrame + one
    # broadcast per variable for identical tables)
    out_tbl = frame_tbl = None
    if use_tables:
        out_tbl = source_ds.spark.createDataFrame(
            [(int(lab), int(k)) for lab, k in out_idx.items()],
            "__label long, __out int",
        )
        frame_tbl = source_ds.spark.createDataFrame(
            [(k, lbl) for k, lbl in enumerate(label_list)],
            "__frame int, __t long",
        )

    def _to_out_idx(df):
        # bin-start / target label -> output frame index.  LEFT join +
        # raise-on-miss, not an inner join: every label is present by
        # construction (both sides derive from label_list), but an
        # inner join would silently DROP rows on a future labeling bug
        # while the literal element_at path below yields NULL -- the
        # guard makes both paths fail loudly and identically.
        if use_tables:
            return (
                df.join(F.broadcast(out_tbl),
                        F.col("t") == F.col("__label"), "left")
                .withColumn(
                    "t",
                    F.when(
                        F.col("__out").isNull(),
                        F.raise_error(F.concat(
                            F.lit("resample_in_time: frame label "),
                            F.col("t").cast("string"),
                            F.lit(" missing from output-label table"),
                        )),
                    ).otherwise(F.col("__out")),
                )
                .drop("__label", "__out")
            )
        return df.withColumn(
            "t",
            F.element_at(
                F.create_map(*[
                    F.lit(v) for lab, k in out_idx.items()
                    for v in (lab, k)
                ]),
                F.col("t"),
            ),
        )

    def _relabel(df):
        # frame index -> frame LABEL (t stays unique per pixel, so
        # order-sensitive reducers like first/last see real times)
        if use_tables:
            return (
                df.join(F.broadcast(frame_tbl),
                        F.col("t").cast("int") == F.col("__frame"),
                        "left")
                .withColumn(
                    "t",
                    F.when(
                        F.col("__t").isNull(),
                        F.raise_error(F.concat(
                            F.lit("resample_in_time: frame index "),
                            F.col("t").cast("string"),
                            F.lit(" missing from frame-label table"),
                        )),
                    ).otherwise(F.col("__t")),
                )
                .drop("__frame", "__t")
            )
        label_arr = F.array(*[F.lit(x) for x in label_list])
        return df.withColumn(
            "t", F.element_at(label_arr, F.col("t") + 1)
        )

    new_vars = {}
    for name, var in source_ds.data_vars.items():
        has_time = time_dim in var.dims
        if not has_time:
            new_vars[name] = var
            continue
        if not var.is_spatial:
            # driver-side metadata variable carrying the time axis
            if var.dims[0] != time_dim:
                raise NotImplementedError(
                    f"variable {name!r}: the time dimension must be "
                    "leading for driver-side temporal resampling"
                )
            data = np.asarray(var.data)
            if period is not None:
                method = _resolve_time_method(
                    agg_methods, name, TIME_REDUCERS, "agg")
                out_data = _np_time_agg(
                    data, frame_bins, len(out_labels), method)
            else:
                method = _resolve_time_method(
                    interp_methods, name, ("linear", "nearest"),
                    "interp")
                wrows = interp_weights(label_list, tt, method)
                out_data = np.zeros(
                    (len(tt),) + data.shape[1:], dtype="float64")
                pos = {x: k for k, x in enumerate(label_list)}
                for t_src, t_out, wgt in wrows:
                    out_data[out_idx[t_out]] += (
                        wgt * data[pos[t_src]].astype("float64"))
            new_vars[name] = _replace(
                var, data=out_data, dtype="float64",
                shape=out_data.shape)
            continue
        if len(var.dims) != 3 or var.dims[0] != time_dim:
            raise NotImplementedError(
                f"variable {name!r}: pixel variables must be "
                f"({time_dim}, y, x) for temporal resampling"
            )
        relabeled = _relabel(var.df)
        if period is not None:
            method = _resolve_time_method(
                agg_methods, name, TIME_REDUCERS, "agg")
            out = resample_time_agg(relabeled, method, period)
        else:
            method = _resolve_time_method(
                interp_methods, name, ("linear", "nearest"), "interp")
            out = resample_time_interp(relabeled, label_list, tt,
                                       method)
        out = _to_out_idx(out)
        new_vars[name] = _replace(
            var, df=out.select("t", "j", "i", "value"),
            dtype="float64",
            shape=None if var.shape is None
            else (len(out_labels), *var.shape[1:]),
        )

    new_coords = dict(source_ds.coords)
    if dt_unit is not None:
        new_coords[time_dim] = out_labels.astype(
            f"datetime64[{dt_unit}]")
    else:
        new_coords[time_dim] = out_labels
    return _replace(
        source_ds, data_vars=new_vars, coords=new_coords
    )
