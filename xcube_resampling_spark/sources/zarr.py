"""Zarr v2 chunk-store source/sink -- the bridge the reference gets from
``zarr.open`` (reference cfconv.py:343-358; examples open Zarr cubes
directly, examples/rectify_sentinel3.ipynb cell 2).

Layout follows the PUBLIC zarr v2 spec (https://zarr.readthedocs.io/
en/stable/spec/v2.html): a store directory holds ``.zgroup``, one
subdirectory per array with a ``.zarray`` JSON (shape/chunks/dtype/
compressor/fill_value/order) and one file per chunk named by its grid
index joined with '.' (``"0.1.2"``).  Edge chunks are stored PADDED to the
full chunk shape.

Spark-first mapping (SURVEY.md section 2.2 #5):

* write: pixels are grouped by chunk key with ``applyInPandas``; every
  chunk file is assembled and compressed inside its executor task -- the
  driver writes only the tiny JSON metadata.  One shuffle, clustered
  exactly like the store layout.
* read: chunk keys that intersect the requested window are enumerated
  driver-side from pure arithmetic (no data touched), and ONLY those
  keys are spread over the read's partitions -- chunk pruning
  equivalent to parquet partition pruning, with no file-listing job.
  Each task fetches its chunks by key through the store's ``get``
  (``FsChunkPut`` for a filesystem path) and decodes them (zlib/raw ->
  ``np.frombuffer`` -> reshape -> clip edge padding) in
  ``mapInPandas``, emitting long-format pixel rows.
* compressors: ``zlib`` (stdlib), ``null`` (raw), plain ``lz4``
  (numcodecs u32-size framing over the in-repo block codec,
  sources/lz4.py), plain ``zstd`` (bare RFC 8878 frames, the
  numcodecs Zstd shape, sources/zstd.py), and ``blosc`` via the
  in-repo pure-numpy blosc1 codec (zlib/lz4/zstd inner streams and
  stored-raw; compressed blosclz/snappy raise with a clear message).
* chunk placement is pluggable: executors write through a ``ChunkPut``
  object (default ``FsChunkPut`` for local/NFS/fuse paths; an
  object-store implementation only needs ``put(key, bytes)``), so the
  writer makes no shared-filesystem assumption beyond the chosen put.
"""

from __future__ import annotations

import json
import os
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_resampling_spark.sources import (
    blosc1,
    lz4,
    numcodecs_filters,
    zstd,
)


class ChunkPut:
    """Destination seam for distributed zarr chunk writes.

    Executors call ``put(key, data)`` with store-relative keys
    (``"var/0.1.2"``, ``"var/.zarray"``); implementations must be
    picklable (they ship to executors inside the write closure) and
    idempotent per key, because Spark may re-run a task.  S3-style
    object stores map directly: ``put`` -> PutObject, no mkdir, no
    rename, no shared filesystem.
    """

    def put(self, key: str, data: bytes) -> None:
        raise NotImplementedError

    def get(self, key: str) -> bytes | None:
        """Read-back seam for metadata merges (``add_spatial_ref`` and
        reconsolidation read prior ``.zattrs`` / ``.zmetadata`` through
        it before overwriting).  ``None`` means "not readable through
        this seam" -- callers then fall back to the local store root,
        and refuse to clobber metadata they could not read."""
        return None


class FsChunkPut(ChunkPut):
    """Filesystem implementation: local paths, NFS, or fuse mounts."""

    def __init__(self, root: str):
        self.root = root

    def put(self, key: str, data: bytes) -> None:
        path = os.path.join(self.root, key)
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        with open(path, "wb") as fp:
            fp.write(data)

    def get(self, key: str) -> bytes | None:
        path = os.path.join(self.root, key)
        if not os.path.exists(path):
            return None
        with open(path, "rb") as fp:
            return fp.read()


class ObjectStoreChunkPut(ChunkPut):
    """Template for S3-style stores: construct with a bucket/prefix and a
    client factory (created lazily per executor -- boto3-style clients
    are not picklable).  The client itself is not available in this
    environment, so ``put`` raises until one is supplied."""

    def __init__(self, bucket: str, prefix: str = "", client_factory=None):
        self.bucket = bucket
        self.prefix = prefix.rstrip("/")
        self.client_factory = client_factory
        self._client = None

    def put(self, key: str, data: bytes) -> None:
        if self.client_factory is None:
            raise NotImplementedError(
                "ObjectStoreChunkPut needs a client_factory (e.g. a boto3 "
                "S3 client constructor); none is available in this build"
            )
        if self._client is None:
            self._client = self.client_factory()
        full = f"{self.prefix}/{key}" if self.prefix else key
        self._client.put_object(Bucket=self.bucket, Key=full, Body=data)

    def get(self, key: str) -> bytes | None:
        if self.client_factory is None:
            raise NotImplementedError(
                "ObjectStoreChunkPut needs a client_factory (e.g. a boto3 "
                "S3 client constructor); none is available in this build"
            )
        if self._client is None:
            self._client = self.client_factory()
        full = f"{self.prefix}/{key}" if self.prefix else key
        try:
            resp = self._client.get_object(Bucket=self.bucket, Key=full)
        except Exception:  # boto3 NoSuchKey and friends
            return None
        body = resp["Body"]
        return body.read() if hasattr(body, "read") else body

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_client"] = None  # never ship a live client to executors
        return state


class ZipChunkStore(ChunkPut):
    """Read-only chunk store over a ZIPPED zarr archive (the
    ``store.zarr.zip`` form the reference examples ship;
    ``zarr.storage.ZipStore`` layout -- member names ARE the
    store-relative keys, possibly under one wrapping top-level
    directory, which is detected and stripped).

    Picklable: executors reopen the archive lazily per process, so the
    distributed read path fetches chunk members in parallel without any
    shared handle.  ``put`` raises -- zip stores are read-only here
    (zip central directories don't take concurrent distributed writers).
    """

    def __init__(self, zip_path: str):
        self.zip_path = zip_path
        self._zf = None
        self._prefix: str | None = None
        self._names: set[str] | None = None

    def _open(self):
        import zipfile

        if self._zf is None:
            self._zf = zipfile.ZipFile(self.zip_path, "r")
            names = set(self._zf.namelist())
            prefix = ""
            roots = {n.split("/", 1)[0] for n in names if n.strip("/")}
            if len(roots) == 1:
                root = next(iter(roots))
                metas = (f"{root}/.zgroup", f"{root}/.zmetadata",
                         f"{root}/zarr.json")
                if any(m in names for m in metas) or any(
                    n.startswith(f"{root}/") and n.endswith(".zarray")
                    for n in names
                ):
                    prefix = root + "/"
            self._prefix = prefix
            self._names = names
        return self._zf

    def put(self, key: str, data: bytes) -> None:
        raise NotImplementedError("ZipChunkStore is read-only")

    def get(self, key: str) -> bytes | None:
        zf = self._open()
        name = self._prefix + key
        if name not in self._names:
            return None
        with zf.open(name) as fp:
            return fp.read()

    def known_keys(self) -> list[str]:
        """All store-relative keys (driver-side chunk pruning uses this
        to skip GETs for chunks that don't exist)."""
        self._open()
        pre = self._prefix
        return [
            n[len(pre):] for n in self._names
            if n.startswith(pre) and not n.endswith("/")
        ]

    def __getstate__(self):
        return {"zip_path": self.zip_path, "_zf": None,
                "_prefix": None, "_names": None}


class FlatKVChunkPut(ChunkPut):
    """Flat-namespace key-value store adapter: the generic object-store
    binding (VERDICT round-5 gap #1).  Keys are OPAQUE -- no directory
    hierarchy, no per-prefix mkdir visible to callers, exactly the
    contract an S3-style store exposes (``put`` == PutObject, ``get`` ==
    GetObject-or-None).  The backing here is one local directory with
    percent-encoded filenames so the adapter works across executor
    processes in this sandbox; a real S3 client satisfies the same
    four-method contract (put/get/known_keys/picklable) and drops in via
    ``ObjectStoreChunkPut``.
    """

    def __init__(self, root: str, prefix: str = ""):
        self.root = root
        self.prefix = prefix.rstrip("/")

    def _fname(self, key: str) -> str:
        from urllib.parse import quote

        full = f"{self.prefix}/{key}" if self.prefix else key
        return os.path.join(self.root, quote(full, safe=""))

    def put(self, key: str, data: bytes) -> None:
        os.makedirs(os.path.join(self.root, "_tmp"), exist_ok=True)
        tmp = os.path.join(
            self.root, "_tmp", f"{os.getpid()}-{abs(hash(key))}")
        with open(tmp, "wb") as fp:
            fp.write(data)
        # atomic publish => idempotent under Spark task re-runs
        os.replace(tmp, self._fname(key))

    def get(self, key: str) -> bytes | None:
        try:
            with open(self._fname(key), "rb") as fp:
                return fp.read()
        except (FileNotFoundError, IsADirectoryError):
            return None

    def known_keys(self) -> list[str]:
        from urllib.parse import unquote

        if not os.path.isdir(self.root):
            return []
        pre = f"{self.prefix}/" if self.prefix else ""
        out = []
        for n in os.listdir(self.root):
            if n == "_tmp" or os.path.isdir(os.path.join(self.root, n)):
                continue
            k = unquote(n)
            if pre:
                if not k.startswith(pre):
                    continue
                k = k[len(pre):]
            out.append(k)
        return out


ZARR_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("t", T.IntegerType(), False),
        T.StructField("j", T.IntegerType(), False),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)

def _np_dtype(dtype_s: str) -> np.dtype:
    """Numeric zarr v2 dtype string -> numpy dtype (both byte orders,
    int/uint/float of any width -- the satellite-data reality is mostly
    packed ``<i2``/``<u2`` with CF scale/offset attributes)."""
    try:
        dt = np.dtype(dtype_s)
    except TypeError:
        raise NotImplementedError(
            f"zarr dtype '{dtype_s}' not supported"
        ) from None
    if dt.kind not in "iuf":
        raise NotImplementedError(
            f"zarr dtype '{dtype_s}' not supported (numeric only)"
        )
    return dt


def _check_compressor(meta: dict) -> str:
    comp = meta.get("compressor")
    if comp is None:
        return "null"
    if comp.get("id") in ("zlib", "gzip", "blosc", "lz4", "zstd"):
        return comp["id"]
    raise NotImplementedError(
        f"zarr compressor '{comp.get('id')}' not available in this build "
        "(zlib, gzip, lz4, zstd, blosc (zlib/lz4/zstd/raw inner "
        "streams), or null)"
    )


def _decompress_chunk(raw: bytes, comp: str,
                      filters: list | None = None) -> bytes:
    """Chunk bytes -> raw array bytes: byte compressor first, then the
    numcodecs filter chain last-to-first (zarr v2 decode order)."""
    if comp == "zlib":
        raw = zlib.decompress(raw)
    elif comp == "gzip":  # numcodecs GZip: gzip-framed deflate
        import gzip as _gzip

        raw = _gzip.decompress(raw)
    elif comp == "blosc":
        raw = blosc1.decode(raw)
    elif comp == "lz4":
        raw = lz4.decompress_framed(raw)
    elif comp == "zstd":
        raw = zstd.decompress(raw)
    return numcodecs_filters.decode_filters(raw, filters)


def write_zarr(
    df: DataFrame,
    path: str,
    var_name: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    fill_value: float = float("nan"),
    compressor: str = "zlib",
    attrs: dict | None = None,
    chunk_put: ChunkPut | None = None,
    filters: list | None = None,
) -> None:
    """Write a (t, j, i, value) pixel DataFrame as a zarr v2 array.

    ``filters`` is an optional numcodecs filter chain (list of config
    dicts, e.g. ``[{"id": "delta", "dtype": "<f8"}]``) applied in
    order before the compressor; blocks are ``<f8``, so array-level
    filters must use ``dtype: "<f8"``.  A ``delta`` filter with the
    default NaN ``fill_value`` does not roundtrip (decode is a cumsum,
    so the padded edge-chunk NaNs poison every later element --
    numcodecs behaves identically); pass a numeric fill with delta.

    ``shape``/``chunks`` are (nt, h, w) or (h, w); 2-D arrays take their
    pixels from t == 0.  Chunk files are written by executor tasks (one
    shuffle, grouped by chunk key); the driver writes only the tiny JSON
    metadata (``.zgroup`` / ``.zarray`` / ``.zattrs``).

    All bytes flow through ``chunk_put`` (default ``FsChunkPut(path)``),
    so the same plan writes to a local directory, NFS, or -- with an
    ``ObjectStoreChunkPut`` -- any S3-style store, with no shared
    filesystem needed.
    """
    put = chunk_put if chunk_put is not None else FsChunkPut(path)
    _write_zarr_metadata(
        put, path, var_name, shape, chunks, fill_value, compressor,
        attrs, filters,
    )
    _write_zarr_chunks(
        df, put, var_name, shape, chunks, fill_value, compressor, filters
    )


def _write_zarr_metadata(
    put: ChunkPut,
    path: str,
    var_name: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    fill_value: float,
    compressor: str,
    attrs: dict | None,
    filters: list | None = None,
) -> None:
    if filters:
        for f in filters:
            numcodecs_filters._resolve(f)
    if compressor not in ("zlib", "null", "blosc", "blosc-lz4",
                          "lz4", "zstd"):
        raise NotImplementedError(
            "compressor must be 'zlib', 'blosc', 'blosc-lz4', 'lz4', "
            "'zstd', or 'null'"
        )
    nd = len(shape)
    if nd not in (2, 3) or len(chunks) != nd:
        raise ValueError("shape/chunks must both be 2-D or 3-D")
    put.put(".zgroup", json.dumps({"zarr_format": 2}).encode())
    fill_json = (
        "NaN" if isinstance(fill_value, float) and np.isnan(fill_value)
        else fill_value
    )
    if compressor == "zlib":
        comp_meta = {"id": "zlib", "level": 1}
    elif compressor == "blosc":
        comp_meta = {
            "id": "blosc", "cname": "zlib", "clevel": 1, "shuffle": 1,
            "blocksize": 0,
        }
    elif compressor == "blosc-lz4":
        # the numcodecs DEFAULT shape for real-world zarr v2 stores
        comp_meta = {
            "id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1,
            "blocksize": 0,
        }
    elif compressor == "lz4":
        comp_meta = {"id": "lz4", "acceleration": 1}
    elif compressor == "zstd":
        # numcodecs Zstd: a bare RFC 8878 frame, no extra framing
        comp_meta = {"id": "zstd", "level": 0}
    else:
        comp_meta = None
    zarray = {
        "zarr_format": 2,
        "shape": list(shape),
        "chunks": list(chunks),
        "dtype": "<f8",
        "compressor": comp_meta,
        "fill_value": fill_json,
        "order": "C",
        "filters": list(filters) if filters else None,
    }
    put.put(f"{var_name}/.zarray", json.dumps(zarray).encode())
    dims = ["t", "y", "x"][-nd:]
    zattrs = {"_ARRAY_DIMENSIONS": dims, **(attrs or {})}
    put.put(f"{var_name}/.zattrs", json.dumps(zattrs).encode())
    # consolidated metadata (object-store default: readers fetch ONE
    # document instead of one per array); merge with any prior arrays'
    # entries when the store root is locally readable
    consolidated: dict = {".zgroup": {"zarr_format": 2}}
    prior = _get_json(put, path, ".zmetadata")
    if prior is not None:
        consolidated.update(prior.get("metadata", {}))
    consolidated[f"{var_name}/.zarray"] = zarray
    consolidated[f"{var_name}/.zattrs"] = zattrs
    put.put(
        ".zmetadata",
        json.dumps(
            {"zarr_consolidated_format": 1, "metadata": consolidated}
        ).encode(),
    )


def _write_zarr_chunks(
    df: DataFrame,
    put: ChunkPut,
    var_name: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    fill_value: float,
    compressor: str,
    filters: list | None = None,
) -> None:
    """Distributed chunk-file write: one applyInPandas task per chunk,
    all bytes through ``put``."""
    nd = len(shape)
    if nd == 2:
        ct_j, ct_i = chunks
        ct_t = 1
        src = df.filter(F.col("t") == 0)
    else:
        ct_t, ct_j, ct_i = chunks
        src = df
    keyed = src.select(
        (F.col("t") / ct_t).cast("int").alias("ck_t"),
        (F.col("j") / ct_j).cast("int").alias("ck_j"),
        (F.col("i") / ct_i).cast("int").alias("ck_i"),
        "t", "j", "i", "value",
    )
    fill = float(fill_value)
    chunk_shape = (ct_t, ct_j, ct_i)
    out_schema = T.StructType([T.StructField("key", T.StringType(), False)])

    def write_chunk(key, pdf):
        kt, kj, ki = int(key[0]), int(key[1]), int(key[2])
        block = np.full(chunk_shape, fill, dtype="<f8")
        tt = pdf["t"].to_numpy(np.int64) - kt * ct_t
        jj = pdf["j"].to_numpy(np.int64) - kj * ct_j
        ii = pdf["i"].to_numpy(np.int64) - ki * ct_i
        block[tt, jj, ii] = pdf["value"].to_numpy(np.float64)
        raw = block.tobytes(order="C")
        raw = numcodecs_filters.encode_filters(raw, filters)
        if compressor == "zlib":
            raw = zlib.compress(raw, 1)
        elif compressor == "blosc":
            raw = blosc1.encode(raw, typesize=8, clevel=1, shuffle=True)
        elif compressor == "blosc-lz4":
            raw = blosc1.encode(
                raw, typesize=8, shuffle=True, cname="lz4")
        elif compressor == "lz4":
            raw = lz4.compress_framed(raw)
        elif compressor == "zstd":
            raw = zstd.compress(raw)
        name = (
            f"{kj}.{ki}" if nd == 2 else f"{kt}.{kj}.{ki}"
        )
        put.put(f"{var_name}/{name}", raw)
        return pd.DataFrame({"key": [name]})

    # one task per chunk; the action drives the distributed write
    keyed.groupBy("ck_t", "ck_j", "ck_i").applyInPandas(
        write_chunk, out_schema
    ).count()


def _get_json(put: ChunkPut, path: str, key: str):
    """Read a small JSON document back from the store: through the
    ChunkPut's ``get`` seam first, then the local store root.  Returns
    None when neither can see the key.  An EMPTY ``path`` disables the
    filesystem fallback entirely -- store-mode readers pass "" so a key
    missing from the chunk store can never be silently satisfied by an
    unrelated file under the driver's cwd."""
    try:
        data = put.get(key)
    except NotImplementedError:
        data = None
    if data is None and path:
        local = os.path.join(path, key)
        if os.path.exists(local):
            try:
                with open(local, "rb") as fp:
                    data = fp.read()
            except OSError:
                data = None
    if data is None:
        return None
    try:
        return json.loads(data)
    except ValueError:
        return None


def _reconsolidate(put: ChunkPut, path: str, entries: dict) -> None:
    """Merge new metadata entries into .zmetadata (the prior document is
    read back through the ChunkPut ``get`` seam, falling back to the
    local store root; a pure write-only object-store root just gets the
    new entries plus the group marker)."""
    consolidated: dict = {".zgroup": {"zarr_format": 2}}
    prior = _get_json(put, path, ".zmetadata")
    if prior is not None:
        consolidated.update(prior.get("metadata", {}))
    consolidated.update(entries)
    put.put(
        ".zmetadata",
        json.dumps(
            {"zarr_consolidated_format": 1, "metadata": consolidated}
        ).encode(),
    )


def _put_small_array(
    put: ChunkPut, name: str, values: np.ndarray, attrs: dict
) -> dict:
    """Write a tiny driver-side zarr v2 array (1-D coords or the 0-d
    spatial_ref variable): one uncompressed chunk, float64/int64.
    Returns the .zmetadata entries."""
    values = np.asarray(values)
    dtype = "<i8" if values.dtype.kind in "iu" else "<f8"
    values = values.astype(dtype)
    zarray = {
        "zarr_format": 2,
        "shape": list(values.shape),
        "chunks": list(values.shape) if values.ndim else [],
        "dtype": dtype,
        "compressor": None,
        "fill_value": None,
        "order": "C",
        "filters": None,
    }
    put.put(f"{name}/.zarray", json.dumps(zarray).encode())
    put.put(f"{name}/.zattrs", json.dumps(attrs).encode())
    chunk_key = ".".join(["0"] * max(values.ndim, 1))
    put.put(f"{name}/{chunk_key}", values.tobytes(order="C"))
    return {f"{name}/.zarray": zarray, f"{name}/.zattrs": attrs}


def add_spatial_ref(
    path: str,
    crs,
    *,
    crs_var_name: str = "spatial_ref",
    data_var_names: list[str] | None = None,
    chunk_put: ChunkPut | None = None,
) -> None:
    """Inject a CF CRS variable into an EXISTING zarr v2 store and point
    the data variables' ``grid_mapping`` attribute at it, then
    reconsolidate -- the zarr-store face of the reference's
    ``add_spatial_ref`` (reference cfconv.py:320-358), which real
    pipelines run so GDAL/xarray/rioxarray georeference the cube.

    ``crs`` is anything ``CRS.from_user_input`` takes (CRS object, EPSG
    code, WKT text, PROJ string).  The CRS variable is a 0-d int array
    whose attrs carry the CF grid-mapping keys plus ``crs_wkt``.
    """
    from xcube_resampling_spark.crs import CRS

    crs = CRS.from_user_input(crs)
    put = chunk_put if chunk_put is not None else FsChunkPut(path)
    entries = _put_small_array(
        put, crs_var_name, np.int64(0), {
            "_ARRAY_DIMENSIONS": [], **crs.to_cf(),
        }
    )
    if data_var_names is None:
        data_var_names = [
            d for d in (os.listdir(path) if os.path.isdir(path) else [])
            if not d.startswith(".")
            and os.path.exists(os.path.join(path, d, ".zarray"))
            and d != crs_var_name
        ]
    for var in data_var_names:
        attrs = _get_json(put, path, f"{var}/.zattrs")
        if attrs is None:
            # refuse to clobber attrs we cannot read: if the array's
            # .zarray IS visible (the variable exists) but its .zattrs
            # is not, overwriting would silently destroy
            # _ARRAY_DIMENSIONS / _FillValue / scale_factor
            if _get_json(put, path, f"{var}/.zarray") is not None:
                raise ValueError(
                    f"cannot read existing {var}/.zattrs through this "
                    "ChunkPut; implement ChunkPut.get() so metadata "
                    "merges see the store"
                )
            attrs = {}
        # coordinate arrays georeference themselves; only grid data
        # variables point at the CRS var
        dims = attrs.get("_ARRAY_DIMENSIONS", [])
        if var in ("x", "y", "t", "lon", "lat", "time") or dims == [var]:
            continue
        attrs["grid_mapping"] = crs_var_name
        put.put(f"{var}/.zattrs", json.dumps(attrs).encode())
        entries[f"{var}/.zattrs"] = attrs
    _reconsolidate(put, path, entries)


def encode_time_coordinate(
    time_values, nt: int,
    time_units: str | None, time_calendar: str | None,
) -> tuple[np.ndarray, dict]:
    """Validate + CF-encode a time coordinate for store writers
    (shared by the zarr v2 and v3 CF writers): datetime64 axes become
    int64 in their own unit with ``units``/``calendar`` attrs;
    integer/float axes pass through with the caller's attrs.  Returns
    ``(values, attrs)`` (attrs without ``_ARRAY_DIMENSIONS``)."""
    if not nt:
        raise ValueError("time_values needs nt > 0")
    tv = np.asarray(time_values)
    if tv.shape != (nt,):
        raise ValueError(
            f"time_values must have shape ({nt},), got {tv.shape}")
    tattrs: dict = {"standard_name": "time"}
    if np.issubdtype(tv.dtype, np.datetime64):
        if np.isnat(tv).any():
            # NaT.astype(int64) is the -2**63 sentinel: written as
            # data it poisons the reopened axis (decode overflows
            # and the WHOLE coordinate degrades to raw integers)
            raise ValueError(
                "time_values contains NaT; drop or fill missing "
                "timestamps before writing")
        if time_units is not None:
            raise ValueError(
                "time_units cannot override a datetime64 axis "
                "(its unit is encoded from the dtype); pass an "
                "integer array to control the units string")
        if time_calendar not in (None, "standard", "gregorian",
                                 "proleptic_gregorian"):
            # datetime64 instants are proleptic-Gregorian; writing
            # them under a fixed calendar would shift every date
            # (~5 days/year since 1970) for any CF consumer
            raise ValueError(
                f"calendar {time_calendar!r} cannot label "
                "datetime64 instants; encode fixed-calendar axes "
                "as integers")
        unit = np.datetime_data(tv.dtype)[0]
        word = {"D": "days", "h": "hours", "m": "minutes",
                "s": "seconds", "ms": "milliseconds",
                "us": "microseconds", "ns": "nanoseconds"}.get(unit)
        if word is None:
            raise ValueError(
                f"datetime64 unit {unit!r} has no CF time unit "
                "(use D/h/m/s/ms/us/ns)")
        tattrs["units"] = f"{word} since 1970-01-01"
        tattrs["calendar"] = time_calendar or "proleptic_gregorian"
        tv = tv.astype("int64")
    else:
        if time_units:
            tattrs["units"] = time_units
        if time_calendar:
            tattrs["calendar"] = time_calendar
        # integer kinds persist as <i8, floats as <f8 -- fractional
        # CF values (0.5 days) stay exact
    return tv, tattrs


def write_zarr_cf(
    df: DataFrame,
    path: str,
    var_name: str,
    grid_mapping,
    fill_value: float = float("nan"),
    compressor: str = "zlib",
    attrs: dict | None = None,
    nt: int = 0,
    chunk_put: ChunkPut | None = None,
    chunks: tuple[int, ...] | None = None,
    time_values=None,
    time_units: str | None = None,
    time_calendar: str | None = None,
) -> None:
    """Write a pixel DataFrame as an xarray-openable CF zarr v2 store:
    the distributed data array plus 1-D x/y coordinate arrays (cell
    centers from the GridMapping), ``_ARRAY_DIMENSIONS`` on every
    array, and a ``spatial_ref`` variable the data var's
    ``grid_mapping`` attr points at.  Mirrors what the reference's
    users get from ``xr.Dataset.to_zarr`` + ``add_spatial_ref``.

    ``nt > 0`` writes a (nt, h, w) cube; 0 writes the 2-D (h, w)
    array.  ``time_values`` (length ``nt``) writes the time
    coordinate: a ``datetime64`` array is CF-encoded as int64 in its
    own unit (``units = "<unit> since 1970-01-01"``, calendar
    ``proleptic_gregorian`` unless overridden), so
    ``open_zarr_dataset(..., decode_cf=True)`` round-trips the axis;
    an integer array is written as-is with ``time_units`` /
    ``time_calendar`` attached verbatim (the fixed-calendar path).
    """
    gm = grid_mapping
    w, h = gm.size
    shape = (nt, h, w) if nt else (h, w)
    if chunks is None:
        tw, th = gm.tile_size if gm.tile_size else (w, h)
        chunks = (1, th, tw) if nt else (th, tw)
    put = chunk_put if chunk_put is not None else FsChunkPut(path)
    write_zarr(df, path, var_name, shape, chunks,
               fill_value=fill_value, compressor=compressor,
               attrs=attrs, chunk_put=put)
    entries = {}
    entries.update(_put_small_array(
        put, "x", np.asarray(gm.x_coords, dtype="<f8"),
        {"_ARRAY_DIMENSIONS": ["x"],
         "standard_name": "projection_x_coordinate"
         if not gm.crs.is_geographic else "longitude"},
    ))
    entries.update(_put_small_array(
        put, "y", np.asarray(gm.y_coords, dtype="<f8"),
        {"_ARRAY_DIMENSIONS": ["y"],
         "standard_name": "projection_y_coordinate"
         if not gm.crs.is_geographic else "latitude"},
    ))
    if time_values is not None:
        tv, tattrs = encode_time_coordinate(
            time_values, nt, time_units, time_calendar)
        tattrs = {"_ARRAY_DIMENSIONS": ["t"], **tattrs}
        entries.update(_put_small_array(put, "t", tv, tattrs))
    _reconsolidate(put, path, entries)
    add_spatial_ref(path, gm.crs, data_var_names=[var_name],
                    chunk_put=put)


def read_zarr_coord_array(
    path: str, name: str, store: ChunkPut | None = None,
) -> tuple["np.ndarray | None", dict]:
    """Read a 1-D coordinate array + its attributes from a zarr v2
    store (driver-side -- coordinate axes are metadata-sized).  Goes
    through the same chunk decode pipeline as the data variables, so
    compressed/filtered coordinate arrays work.  Returns
    ``(None, {})`` when the store has no such array."""

    def _bytes(key):
        if store is not None:
            try:
                return store.get(key)
            except NotImplementedError:
                return None
        p = os.path.join(path, key)
        if not os.path.exists(p):
            return None
        with open(p, "rb") as fp:
            return fp.read()

    za_raw = _bytes(f"{name}/.zarray")
    if za_raw is None:
        return None, {}
    za = json.loads(za_raw)
    if len(za["shape"]) != 1:
        return None, {}
    comp = _check_compressor(za)
    filters = za.get("filters") or None
    n = int(za["shape"][0])
    if n == 0:
        return None, {}
    c = int(za["chunks"][0]) if za.get("chunks") else n
    parts = []
    for k in range(-(-n // c) if c else 1):
        raw = _bytes(f"{name}/{k}")
        if raw is None:
            return None, {}
        parts.append(np.frombuffer(
            _decompress_chunk(bytes(raw), comp, filters), za["dtype"]))
    arr = np.concatenate(parts)[:n]
    attrs_raw = _bytes(f"{name}/.zattrs")
    attrs = json.loads(attrs_raw) if attrs_raw else {}
    attrs.pop("_ARRAY_DIMENSIONS", None)
    return arr, attrs


def read_zarr_grid_mapping(path: str, crs_var_name: str = "spatial_ref",
                           store: ChunkPut | None = None):
    """Reconstruct the GridMapping of a CF zarr v2 store written by
    ``write_zarr_cf`` (or any xarray-convention store with 1-D x/y
    coordinate arrays and a CRS variable): the read-side of the CF
    discovery the reference performs through
    ``GridMapping.from_dataset`` on an opened zarr cube.  Returns None
    when the store has no coordinate arrays.  ``store`` reads the
    driver-sized metadata/coords through a non-filesystem chunk store."""
    from xcube_resampling_spark.crs import CRS
    from xcube_resampling_spark.gridmapping import GridMapping

    def _bytes(key):
        if store is not None:
            try:
                return store.get(key)
            except NotImplementedError:
                return None
        p = os.path.join(path, key)
        if not os.path.exists(p):
            return None
        with open(p, "rb") as fp:
            return fp.read()

    def _arr(name):
        # real-world stores routinely compress (and filter) even the
        # 1-D coordinate arrays -- read through the shared coordinate
        # reader (same chunk decode pipeline as the data variables)
        arr, _attrs = read_zarr_coord_array(path, name, store=store)
        return None if arr is None else arr.astype("float64")

    x = _arr("x")
    y = _arr("y")
    if x is None or y is None:
        return None
    attrs_raw = _bytes(f"{crs_var_name}/.zattrs")
    if attrs_raw is not None:
        crs = CRS.from_cf(json.loads(attrs_raw))
    else:
        from xcube_resampling_spark.crs import CRS_WGS84 as crs
    return GridMapping.from_coords(x, y, crs, xy_var_names=("x", "y"),
                                   xy_dim_names=("x", "y"))


def open_zarr_dataset(
    spark: SparkSession,
    path: str,
    variables: list[str] | None = None,
    bbox_ij: tuple[int, int, int, int] | None = None,
    decode_cf: bool = False,
    store: ChunkPut | None = None,
):
    """Open a CF zarr v2 store as ``(SparkDataset, GridMapping)`` -- the
    one-call analogue of the reference users' ``xr.open_zarr`` +
    ``GridMapping.from_dataset`` (reference spatial.py:41 accepts any
    opened dataset).  Data variables stream through the chunk-pruned
    distributed reader; coordinate/CRS variables come from the store's
    CF metadata.  The result feeds ``resample_in_space`` directly.
    ``store`` opens through a non-filesystem chunk store (zip archive,
    object store); ``path`` is then only a display name."""
    from xcube_resampling_spark.dataset import SparkDataset, Variable

    gm = read_zarr_grid_mapping(path, store=store)
    if gm is None:
        raise ValueError(
            f"{path!r} has no x/y coordinate arrays; open the variable "
            "directly with read_zarr and supply a GridMapping")
    aux = {"x", "y", "t", "time", "lon", "lat", "spatial_ref"}

    def _var_json(var, doc):
        if store is not None:
            return _get_json(store, "", f"{var}/{doc}")
        p = os.path.join(path, var, doc)
        if not os.path.exists(p):
            return None
        with open(p) as fp:
            return json.load(fp)

    if variables is None:
        if store is not None:
            known = getattr(store, "known_keys", None)
            if not callable(known):
                raise ValueError(
                    "opening a chunk store without an explicit variable "
                    "list needs a store with known_keys(); pass "
                    "variables=[...]")
            variables = sorted({
                k.split("/", 1)[0] for k in known()
                if k.endswith("/.zarray")
                and not k.startswith(".")
                and k.split("/", 1)[0] not in aux
            })
        else:
            variables = sorted(
                d for d in os.listdir(path)
                if not d.startswith(".") and d not in aux
                and os.path.exists(os.path.join(path, d, ".zarray"))
            )
    data_vars = {}
    for var in variables:
        za = _var_json(var, ".zarray")
        if za is None:
            raise FileNotFoundError(
                f"no {var}/.zarray in the store -- unknown variable "
                f"{var!r}")
        zattrs = _var_json(var, ".zattrs") or {}
        store_dims = zattrs.get("_ARRAY_DIMENSIONS")
        if (isinstance(store_dims, list)
                and len(store_dims) == len(za["shape"])):
            # honor the store's dim names (xarray convention), so a
            # 'time' axis lines up with its coordinate array instead
            # of being renamed to 't'
            dims = tuple(store_dims)
        else:
            dims = ("t", "y", "x")[-len(za["shape"]):]
        attrs = {k: v for k, v in zattrs.items()
                 if k != "_ARRAY_DIMENSIONS"}
        df = read_zarr(spark, path, var, bbox_ij=bbox_ij,
                       decode_cf=decode_cf, store=store)
        data_vars[var] = Variable(var, df, dims, "float64", attrs,
                                  shape=tuple(int(n) for n in za["shape"]))
    coords = {"x": np.asarray(gm.x_coords, dtype="float64"),
              "y": np.asarray(gm.y_coords, dtype="float64")}
    coord_attrs = {"spatial_ref": gm.crs.to_cf()}
    # surface the store's time axis (CF-decoded to datetime64[ns]
    # under decode_cf when the units/calendar allow; raw values --
    # with their attrs intact -- otherwise, e.g. 360_day calendars or
    # epochs outside the ns window).  The coordinate NAMED LIKE the
    # data variables' leading dim is tried first, so the surfaced
    # coord always lines up with var.dims[0] (what resample_in_time
    # resolves); generic names are fallbacks.
    lead_dims = [v.dims[0] for v in data_vars.values()
                 if len(v.dims) == 3]
    tried = []
    for tname in (*lead_dims, "time", "t"):
        if tname in tried or tname in ("y", "x", "lat", "lon"):
            continue
        tried.append(tname)
        try:
            tarr, tattrs = read_zarr_coord_array(
                path, tname, store=store)
        except NotImplementedError:
            # a coordinate array with an unsupported codec must not
            # stop the store from opening (the data vars are fine);
            # before time surfacing existed it was simply ignored
            continue
        if tarr is None:
            continue
        if decode_cf and "since" in str(tattrs.get("units", "")):
            from xcube_resampling_spark.functions.cftime import (
                decode_cf_time_array,
            )

            try:
                tarr = decode_cf_time_array(
                    tarr, tattrs["units"],
                    tattrs.get("calendar", "standard"),
                )
                # the values are instants now: move the numeric
                # encoding out of the live attrs (xarray's .encoding
                # convention) so nothing re-interprets ns as days
                enc = {k: tattrs.pop(k)
                       for k in ("units", "calendar") if k in tattrs}
                tattrs["encoding"] = enc
            except ValueError:
                pass
        coords[tname] = tarr
        coord_attrs[tname] = tattrs
        break
    ds = SparkDataset(
        spark=spark,
        data_vars=data_vars,
        coords=coords,
        coord_attrs=coord_attrs,
        yx_dims=("y", "x"),
    )
    return ds, gm


def write_zarr_stream(
    df: DataFrame,
    path: str,
    var_name: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    fill_value: float = float("nan"),
    compressor: str = "zlib",
    attrs: dict | None = None,
    chunk_put: ChunkPut | None = None,
    checkpoint: str | None = None,
):
    """Streaming zarr ingestion: continuous (t, j, i, value) pixel rows
    (e.g. one satellite frame per micro-batch) land as zarr chunk files.

    Metadata is written ONCE on the driver (`shape` is the declared
    maximum extent); each micro-batch then runs the same distributed
    chunk write as the batch sink via ``foreachBatch`` -- appending a
    time slab IS just writing more chunk files, so zarr absorbs an
    unbounded stream naturally.  Idempotency: a replayed batch rewrites
    byte-identical chunk files, PROVIDED every chunk is fully covered by
    one micro-batch -- partition the stream so a frame (with
    ``chunks[0] == 1``) never splits across batches.

    Returns the started ``StreamingQuery``.
    """
    put = chunk_put if chunk_put is not None else FsChunkPut(path)
    _write_zarr_metadata(
        put, path, var_name, shape, chunks, fill_value, compressor, attrs
    )

    def write_batch(bdf, _epoch_id):
        _write_zarr_chunks(
            bdf, put, var_name, shape, chunks, fill_value, compressor
        )

    writer = df.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_zarr(
    spark: SparkSession,
    path: str,
    var_name: str,
    bbox_ij: tuple[int, int, int, int] | None = None,
    decode_cf: bool = False,
    store: ChunkPut | None = None,
    n_partitions: int | None = None,
) -> DataFrame:
    """Read a zarr v2 array as a (t, j, i, value) pixel DataFrame.

    Chunks are fetched by key: the driver enumerates the chunk keys
    from the chunk grid and drops the ones that are not stored (a
    missing chunk is all ``fill_value``; its pixels are absent rows);
    the rest are spread over ``spark.range`` partitions, and each task
    GETs and decodes its own chunks through the store (``FsChunkPut``
    over ``path`` for a filesystem store).  No file listing and no
    shuffle run before the caller's action.

    ``n_partitions`` overrides the fetch parallelism (default: the
    session's defaultParallelism, capped at the chunk count) -- at
    object-store scale the right fan-out is a property of the store's
    request ceiling, not of the local core count.

    ``bbox_ij`` = (i_min, j_min, i_max, j_max) half-open window: only the
    keys of chunks intersecting the window are fetched (driver-side
    arithmetic over the chunk grid -- no data read), and the decoded
    rows are filtered to the exact window.

    A consolidated store (``.zmetadata`` at the root, the object-store
    default: one metadata GET instead of one per array) is used when
    present; per-array JSON is the fallback.

    ``decode_cf=True`` applies the CF packing attributes from
    ``.zattrs`` the way xarray's ``decode_cf`` does (the reference reads
    through xarray, cfconv.py:343-358): values equal to ``_FillValue``
    (or ``missing_value``) become NaN, then
    ``value * scale_factor + add_offset``.

    ``store`` reads through a non-filesystem chunk store (a
    :class:`ZipChunkStore` over a zipped archive, a
    :class:`FlatKVChunkPut`, or any ``ChunkPut`` with ``get``):
    metadata GETs run driver-side, chunk GETs run distributed, exactly
    as for a filesystem store (``path`` is ignored when given).
    """
    adir = os.path.join(path, var_name)
    if store is not None:
        consolidated = _get_json(store, "", ".zmetadata")
        meta = attrs = None
        if consolidated is not None:
            cm = consolidated.get("metadata", {})
            meta = cm.get(f"{var_name}/.zarray")
            attrs = cm.get(f"{var_name}/.zattrs")
        if meta is None:
            meta = _get_json(store, "", f"{var_name}/.zarray")
            attrs = _get_json(store, "", f"{var_name}/.zattrs")
        if meta is None:
            if _get_json(store, "", f"{var_name}/zarr.json") is not None:
                # v3 store behind the seam -> delegate to the v3 reader
                from xcube_resampling_spark.sources.zarr3 import (
                    read_zarr3,
                )

                return read_zarr3(spark, path, var_name, bbox_ij,
                                  decode_cf, store=store)
            raise FileNotFoundError(
                f"no {var_name}/.zarray in the chunk store")
        attrs = attrs or {}
    else:
        zmeta_path = os.path.join(path, ".zmetadata")
        if (
            not os.path.exists(zmeta_path)
            and not os.path.exists(os.path.join(adir, ".zarray"))
            and os.path.exists(os.path.join(adir, "zarr.json"))
        ):
            # v3 store (per-array zarr.json, no v2 metadata) -> delegate
            from xcube_resampling_spark.sources.zarr3 import read_zarr3

            return read_zarr3(spark, path, var_name, bbox_ij, decode_cf)
        attrs = {}
        meta = None
        if os.path.exists(zmeta_path):
            with open(zmeta_path) as fp:
                consolidated = json.load(fp)["metadata"]
            # a stale .zmetadata (written before this array existed, or
            # by a ChunkPut rooted elsewhere) may not list var_name --
            # fall through to the per-array JSON rather than KeyError
            meta = consolidated.get(f"{var_name}/.zarray")
            attrs = consolidated.get(f"{var_name}/.zattrs", {})
        if meta is None:
            with open(os.path.join(adir, ".zarray")) as fp:
                meta = json.load(fp)
            zattrs_path = os.path.join(adir, ".zattrs")
            if os.path.exists(zattrs_path):
                with open(zattrs_path) as fp:
                    attrs = json.load(fp)
    if meta.get("order", "C") != "C":
        raise NotImplementedError("only C-order zarr arrays supported")
    filters = meta.get("filters") or None
    if filters:
        for f in filters:
            numcodecs_filters._resolve(f)  # fail fast on unknown ids
    comp = _check_compressor(meta)
    dtype_s = meta["dtype"]
    dtype = _np_dtype(dtype_s)
    fill_attr = attrs.get("_FillValue", attrs.get("missing_value"))
    # CF allows vector-valued missing_value -> normalize to a float list
    if fill_attr is None:
        fill_values: list[float] | None = None
    elif isinstance(fill_attr, (list, tuple)):
        fill_values = [float(f) for f in fill_attr]
    else:
        fill_values = [float(fill_attr)]
    scale = float(attrs.get("scale_factor", 1.0))
    offset = float(attrs.get("add_offset", 0.0))
    shape = tuple(int(s) for s in meta["shape"])
    chunks = tuple(int(c) for c in meta["chunks"])
    nd = len(shape)
    if nd == 2:
        shape = (1,) + shape
        chunks = (1,) + chunks
    nt, h, w = shape
    ct_t, ct_j, ct_i = chunks
    n_kt = -(-nt // ct_t)
    n_kj = -(-h // ct_j)
    n_ki = -(-w // ct_i)

    if bbox_ij is not None:
        i0, j0, i1, j1 = bbox_ij
        kj_r = range(max(0, j0 // ct_j), min(n_kj, -(-j1 // ct_j)))
        ki_r = range(max(0, i0 // ct_i), min(n_ki, -(-i1 // ct_i)))
    else:
        kj_r, ki_r = range(n_kj), range(n_ki)
    names = [
        f"{kj}.{ki}" if nd == 2 else f"{kt}.{kj}.{ki}"
        for kt in range(n_kt)
        for kj in kj_r
        for ki in ki_r
    ]

    def decode_block(key: str, raw: bytes) -> pd.DataFrame:
        parts = [int(x) for x in key.split(".")]
        if len(parts) == 2:
            kt, kj, ki = 0, parts[0], parts[1]
        else:
            kt, kj, ki = parts
        raw = _decompress_chunk(raw, comp, filters)
        block = np.frombuffer(raw, dtype=dtype).reshape(
            ct_t, ct_j, ct_i
        )
        t_off, j_off, i_off = kt * ct_t, kj * ct_j, ki * ct_i
        # clip the stored edge padding back to the array bounds
        vt = min(ct_t, nt - t_off)
        vj = min(ct_j, h - j_off)
        vi = min(ct_i, w - i_off)
        block = block[:vt, :vj, :vi].astype(np.float64)
        if decode_cf:
            if fill_values is not None:
                block = np.where(
                    np.isin(block, fill_values), np.nan, block
                )
            block = block * scale + offset
        tt, jj, ii = np.meshgrid(
            np.arange(vt), np.arange(vj), np.arange(vi),
            indexing="ij",
        )
        return pd.DataFrame(
            {
                "t": (tt.ravel() + t_off).astype(np.int32),
                "j": (jj.ravel() + j_off).astype(np.int32),
                "i": (ii.ravel() + i_off).astype(np.int32),
                "value": block.ravel(),
            }
        )

    if store is None:
        store = FsChunkPut(os.path.abspath(path))
        names = [n for n in names if os.path.exists(os.path.join(adir, n))]
    else:
        # prune against the store's key listing when it has one (the
        # zip central directory / object-store LIST); otherwise every
        # candidate key gets a distributed GET and misses drop out
        known = getattr(store, "known_keys", None)
        if callable(known):
            have = set(known())
            names = [n for n in names if f"{var_name}/{n}" in have]
    if not names:
        return spark.createDataFrame([], schema=ZARR_PIXEL_SCHEMA)
    n_part = max(1, min(
        len(names),
        n_partitions if n_partitions is not None
        else spark.sparkContext.defaultParallelism))

    def fetch(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        # one output batch per chunk: a task holds one decoded chunk at
        # a time, however many keys its partition carries
        for pdf in batches:
            for k in pdf["id"]:
                raw = store.get(f"{var_name}/{names[k]}")
                if raw is not None:
                    yield decode_block(names[k], bytes(raw))

    # each key enters as its index into ``names`` (shipped with the
    # closure): no file listing, no exchange, and no Python-side source
    # for the rows (a parallelized key list decodes ~25% slower)
    df = spark.range(len(names), numPartitions=n_part).mapInPandas(
        fetch, ZARR_PIXEL_SCHEMA)
    if bbox_ij is not None:
        i0, j0, i1, j1 = bbox_ij
        df = df.filter(
            (F.col("i") >= i0) & (F.col("i") < i1)
            & (F.col("j") >= j0) & (F.col("j") < j1)
        )
    return df
