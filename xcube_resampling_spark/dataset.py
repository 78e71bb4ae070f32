"""SparkDataset: the engine's data-cube abstraction.

Parity reference: the reference engine operates on ``xarray.Dataset`` objects
(e.g. /root/reference/xcube_resampling/spatial.py:41, affine.py:53) whose data
variables are dense chunked arrays.  Here a data cube is a set of named
variables, each backed by a *long-format* Spark DataFrame::

    (t: int, j: int, i: int, value: double)

with ``t = 0`` for 2-D variables, ``j`` the row index (0 at top unless the
grid's j axis points up), ``i`` the column index.  Out-of-coverage pixels are
*absent* rows; dtype semantics (NaN vs fill values) live in a per-variable
dtype registry, mirroring the reference's dtype-driven defaults
(reference utils.py:192-332).

This long format is directly verifiable against a DuckDB oracle and lets
Catalyst push filters/projections into the parquet scan.  A dense binary-tile
representation can be layered on top later as a pure optimization.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .constants import is_int_dtype
from .crs import CRS
from .gridmapping import GridMapping

PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("t", T.IntegerType(), False),
        T.StructField("j", T.IntegerType(), False),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


@dataclass
class Variable:
    """A data variable: long-format DataFrame + metadata."""

    name: str
    df: DataFrame | None  # None for driver-side (non-spatial) variables
    dims: tuple[str, ...]
    dtype: str = "float64"
    attrs: dict = field(default_factory=dict)
    # driver-side payload for non-spatial variables (passthrough)
    data: np.ndarray | None = None
    # declared storage chunk size per dim (max chunk size, like the max of
    # an xarray/dask var.chunks tuple); None = not chunked
    chunks: tuple[int, ...] | None = None
    # extent per dim, in dims order (xarray's var.shape); None = unknown
    shape: tuple[int, ...] | None = None

    @property
    def is_spatial(self) -> bool:
        return self.df is not None

    def with_df(self, df: DataFrame) -> "Variable":
        return replace(self, df=df)


@dataclass
class SparkDataset:
    """A collection of variables sharing a grid, plus coordinate metadata."""

    spark: SparkSession
    data_vars: dict[str, Variable]
    coords: dict[str, Any] = field(default_factory=dict)  # name -> np.ndarray
    coord_attrs: dict[str, dict] = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)
    # names of the (y, x) dims of the spatial variables
    yx_dims: tuple[str, str] = ("y", "x")

    # -------------------------------------------------------------- #
    # construction

    @staticmethod
    def from_numpy(
        spark: SparkSession,
        data_vars: dict[str, tuple[tuple[str, ...], np.ndarray]],
        coords: dict[str, np.ndarray] | None = None,
        coord_attrs: dict[str, dict] | None = None,
        var_attrs: dict[str, dict] | None = None,
        attrs: dict | None = None,
        yx_dims: tuple[str, str] | None = None,
    ) -> "SparkDataset":
        """Build a SparkDataset from dense numpy arrays (test fixtures,
        small data).  ``data_vars`` maps name -> (dims, array)."""
        coords = dict(coords or {})
        var_attrs = var_attrs or {}
        # guess the yx dims from 2/3-D variables if not given
        if yx_dims is None:
            yx_dims = ("y", "x")
            for dims, arr in data_vars.values():
                if len(dims) >= 2:
                    yx_dims = (dims[-2], dims[-1])
                    break
        variables: dict[str, Variable] = {}
        for name, (dims, arr) in data_vars.items():
            arr = np.asarray(arr)
            if len(dims) >= 2 and dims[-2:] == yx_dims:
                df = numpy_to_pixels(spark, arr)
                variables[name] = Variable(
                    name, df, dims, str(arr.dtype),
                    dict(var_attrs.get(name, {})), shape=arr.shape,
                )
            else:
                variables[name] = Variable(
                    name, None, dims, str(arr.dtype),
                    dict(var_attrs.get(name, {})), data=arr,
                    shape=arr.shape,
                )
        return SparkDataset(
            spark=spark,
            data_vars=variables,
            coords=coords,
            coord_attrs=dict(coord_attrs or {}),
            attrs=dict(attrs or {}),
            yx_dims=yx_dims,
        )

    # -------------------------------------------------------------- #
    # materialization (tests / small outputs)

    def to_numpy(self, name: str, shape: tuple[int, ...],
                 fill_value: float = np.nan) -> np.ndarray:
        """Collect a spatial variable into a dense array of *shape*
        ((t,)h,w).  Missing pixels become *fill_value*."""
        var = self.data_vars[name]
        if not var.is_spatial:
            return var.data
        rows = var.df.select("t", "j", "i", "value").collect()
        if len(shape) == 2:
            out = np.full((1,) + tuple(shape), fill_value, dtype=np.float64)
        else:
            out = np.full(tuple(shape), fill_value, dtype=np.float64)
        for r in rows:
            out[r["t"], r["j"], r["i"]] = (
                np.nan if r["value"] is None else r["value"]
            )
        if len(shape) == 2:
            out = out[0]
        if is_int_dtype(var.dtype):
            # NaN.astype(int64) is platform-defined garbage (INT64_MIN);
            # absent pixels of an int variable take the dtype's default
            # fill unless the caller chose a finite fill explicitly
            if np.isnan(fill_value):
                from .constants import default_fill_value

                out = np.where(
                    np.isnan(out), default_fill_value(var.dtype), out)
            with np.errstate(invalid="ignore"):
                out_i = out.astype(np.int64)
            return out_i
        return out

    def select_variables(self, variables) -> "SparkDataset":
        """Project a subset of data variables
        (reference utils.py:154-161)."""
        if variables is None:
            return self
        if isinstance(variables, str):
            variables = [variables]
        unknown = [v for v in variables if v not in self.data_vars]
        if unknown:
            # reference semantics: ds[[...]] raises on unknown names --
            # a typo must not become a silent empty result
            raise KeyError(
                f"variables not found in dataset: {unknown}")
        return replace(
            self,
            data_vars={k: v for k, v in self.data_vars.items()
                       if k in set(variables)},
        )

    # -------------------------------------------------------------- #
    # grid discovery

    def grid_mapping(self, **kwargs) -> GridMapping:
        from .gridmapping.cfconv import grid_mapping_from_dataset

        # public entry prefers the regular candidate when a dataset
        # yields several grid mappings (reference GridMapping.
        # from_dataset defaults prefer_is_regular=True; the internal
        # new_grid_mapping_from_dataset twin defaults None)
        kwargs.setdefault("prefer_is_regular", True)
        return grid_mapping_from_dataset(self, **kwargs)


def numpy_to_pixels(spark: SparkSession, arr: np.ndarray) -> DataFrame:
    """Dense (t,)h,w numpy array -> long-format pixel DataFrame.
    NaNs are retained as NaN values (they are data, not missing rows)."""
    if arr.ndim == 2:
        arr = arr[np.newaxis, :, :]
    nt, h, w = arr.shape
    tt, jj, ii = np.meshgrid(
        np.arange(nt), np.arange(h), np.arange(w), indexing="ij"
    )
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "t": tt.ravel().astype(np.int32),
            "j": jj.ravel().astype(np.int32),
            "i": ii.ravel().astype(np.int32),
            "value": arr.ravel().astype(np.float64),
        }
    )
    return spark.createDataFrame(pdf, schema=PIXEL_SCHEMA)


def grid_df(spark: SparkSession, width: int, height: int,
            num_t: int = 1) -> DataFrame:
    """Distributed generation of all (t, j, i) target pixel indices.

    Uses ``spark.range`` (parallelized on the cluster) rather than driver
    loops, so a 10^10-pixel target grid is generated without driver memory.
    """
    n = width * height * num_t
    df = spark.range(n)
    wh = width * height
    return df.select(
        (F.col("id") / wh).cast("int").alias("t"),
        ((F.col("id") % wh) / width).cast("int").alias("j"),
        (F.col("id") % width).cast("int").alias("i"),
    )
