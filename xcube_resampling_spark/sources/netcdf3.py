"""NetCDF-3 "classic" source/sink -- the second dataset format the
reference consumes (it opens NetCDF-style datasets through xarray,
SURVEY.md section 2.2 #5; e.g. reference cfconv.py works on any
xarray-openable store).

The classic format (magic ``CDF\\x01`` / ``CDF\\x02``) is a simple
PUBLIC binary layout (Unidata "NetCDF Classic Format Specification"):
a header (dimension list, global attributes, variable list with
per-variable begin offsets) followed by the variable data, row-major,
each non-record block padded to 4-byte multiples.  No external library
is needed -- ``struct`` + numpy parse it completely.

Spark-first mapping:

* read: real NetCDF archives are many granule FILES (one per orbit /
  tile / day), which is exactly Spark's unit of parallelism -- the
  driver lists the granule names (band-pruned under a window), and
  executors fetch each file by key through ``FsChunkPut`` and decode it
  in ``mapInPandas`` (header parse + ``np.frombuffer``), emitting
  long-format (t, j, i, value) pixel rows: the zarr reader's keyed
  fetch (``zarr.fetch_chunks``), shared with the HDF5 reader through
  :func:`read_granules`.  Granule offsets come from the ``j_offset`` /
  ``i_offset`` / ``t_offset`` global attributes when present, so a
  directory of granules reassembles into one grid without any
  shuffle.
* write: pixels are grouped into row-band granules with
  ``applyInPandas``; every executor task assembles and writes ONE
  independent .nc file through the pluggable ``ChunkPut`` seam
  (sources/zarr.py) -- one shuffle, no shared-filesystem assumption,
  object-store ready.

Scope: CDF-1, CDF-2 (64-bit offsets), and CDF-5 (magic ``CDF\\x05``,
"64-bit data": every NON_NEG header field widens to 8 bytes and the
unsigned/64-bit nc_types 7-11 become available -- the PnetCDF "CDF-5
file format specification") files; variables of types byte/short/int/
float/double (+ ubyte/ushort/uint/int64/uint64 in CDF-5), dimension
order (y, x) or (t, y, x), both fixed-size and RECORD variables (an
unlimited first dimension -- length 0 in the dim list, actual count in
``numrecs``, per-record interleaved slabs; the STREAMING numrecs
sentinel is inferred from the file length).
"""

from __future__ import annotations

import json
import os
import re
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_resampling_spark.sources.zarr import (
    ChunkPut,
    FsChunkPut,
    block_pixels,
    cf_decode,
    clip_pixels_by_ij_bbox,
    fetch_chunks,
)

_NC_DIMENSION = 0x0A
_NC_VARIABLE = 0x0B
_NC_ATTRIBUTE = 0x0C

# nc_type -> (numpy dtype, size in bytes); 7-11 are the CDF-5
# ("64-bit data", magic CDF\x05) additions
_NC_TYPES = {
    1: np.dtype(">i1"),  # NC_BYTE
    2: np.dtype("S1"),   # NC_CHAR
    3: np.dtype(">i2"),  # NC_SHORT
    4: np.dtype(">i4"),  # NC_INT
    5: np.dtype(">f4"),  # NC_FLOAT
    6: np.dtype(">f8"),  # NC_DOUBLE
    7: np.dtype(">u1"),  # NC_UBYTE   (CDF-5)
    8: np.dtype(">u2"),  # NC_USHORT  (CDF-5)
    9: np.dtype(">u4"),  # NC_UINT    (CDF-5)
    10: np.dtype(">i8"),  # NC_INT64   (CDF-5)
    11: np.dtype(">u8"),  # NC_UINT64  (CDF-5)
}
_NC_TYPE_OF = {np.dtype("f8"): 6, np.dtype("f4"): 5, np.dtype("i4"): 4,
               np.dtype("i2"): 3, np.dtype("i1"): 1}
# dtypes only expressible in a CDF-5 file
_NC_TYPE_OF_CDF5 = {np.dtype("u1"): 7, np.dtype("u2"): 8,
                    np.dtype("u4"): 9, np.dtype("i8"): 10,
                    np.dtype("u8"): 11}


def _pad4(n: int) -> int:
    return (n + 3) & ~3


class _Writer:
    """Assemble one classic file image in memory.  ``w64`` switches
    every NON_NEG field to the 8-byte CDF-5 form (the 4-byte tags,
    nc_type constants, and 4-byte value padding are unchanged in
    CDF-5)."""

    def __init__(self, w64: bool = False):
        self.buf = bytearray()
        self.w64 = w64

    def i4(self, v: int):
        self.buf += struct.pack(">i", v)

    def nn(self, v: int):
        """NON_NEG: 4-byte in CDF-1/2, 8-byte in CDF-5."""
        self.buf += struct.pack(">q" if self.w64 else ">i", v)

    def name(self, s: str):
        b = s.encode()
        self.nn(len(b))
        self.buf += b + b"\x00" * (_pad4(len(b)) - len(b))

    def att_values(self, nc_type: int, values) -> None:
        if nc_type == 2:  # NC_CHAR: text attribute
            b = values.encode() if isinstance(values, str) else bytes(values)
            self.i4(2)
            self.nn(len(b))
            self.buf += b + b"\x00" * (_pad4(len(b)) - len(b))
            return
        arr = np.asarray(values).reshape(-1)
        dt = _NC_TYPES[nc_type]
        raw = arr.astype(dt).tobytes()
        self.i4(nc_type)
        self.nn(arr.size)
        self.buf += raw + b"\x00" * (_pad4(len(raw)) - len(raw))

    def att_list(self, attrs: dict):
        if not attrs:
            self.i4(0)
            self.nn(0)
            return
        self.i4(_NC_ATTRIBUTE)
        self.nn(len(attrs))
        for k, v in attrs.items():
            self.name(k)
            if isinstance(v, str):
                self.att_values(2, v)
            elif isinstance(v, (int, np.integer)):
                self.att_values(4, [v])
            elif isinstance(v, (list, tuple, np.ndarray)):
                # vector-valued attribute (CF-legal, e.g. missing_value)
                vals = list(v)
                if all(isinstance(x, (int, np.integer)) for x in vals):
                    self.att_values(4, vals)
                else:
                    self.att_values(6, [float(x) for x in vals])
            else:
                self.att_values(6, [float(v)])


def encode_netcdf3(
    var_name: str,
    data: np.ndarray,
    dims: tuple[str, ...],
    global_attrs: dict | None = None,
    var_attrs: dict | None = None,
    record_dim: bool = False,
    version: int = 1,
) -> bytes:
    """Encode one variable (plus its coordinate-free dims) as a classic
    file image.  With ``record_dim=True`` the FIRST dim is written as the
    unlimited (record) dimension -- length 0 in the dim list, actual
    length in ``numrecs`` -- and the data section holds one per-record
    slab per record, the layout real time-series .nc files use.

    ``version`` selects the container: 1 (CDF-1), 2 (CDF-2: 64-bit
    begin offsets), or 5 (CDF-5 "64-bit data": every NON_NEG field is
    8-byte and the unsigned/64-bit nc_types are available)."""
    # coerce numpy SCALARS to proper 0-d arrays: scalar
    # .astype('>i4').tobytes() silently ignores the byte order
    # (native-endian out), while array astype byteswaps -- a 0-d
    # grid-mapping var would otherwise be written little-endian
    data = np.asarray(data)
    if data.ndim != len(dims):
        raise ValueError("dims must match data.ndim")
    if version not in (1, 2, 5):
        raise ValueError("version must be 1, 2, or 5")
    base_dt = np.dtype(data.dtype.str.lstrip("<>="))
    nc_type = _NC_TYPE_OF.get(base_dt)
    if nc_type is None and version == 5:
        nc_type = _NC_TYPE_OF_CDF5.get(base_dt)
    if nc_type is None:
        hint = (" (unsigned/64-bit integers need version=5)"
                if base_dt in _NC_TYPE_OF_CDF5 else "")
        raise NotImplementedError(
            f"netcdf3 dtype {data.dtype} not supported{hint}"
        )
    w = _Writer(w64=(version == 5))
    off8 = version in (2, 5)
    w.buf += b"CDF" + bytes([version])
    w.nn(int(data.shape[0]) if record_dim else 0)  # numrecs
    # dim_list (record dim is written with length 0)
    w.i4(_NC_DIMENSION)
    w.nn(len(dims))
    for k, (d, size) in enumerate(zip(dims, data.shape)):
        w.name(d)
        w.nn(0 if (record_dim and k == 0) else int(size))
    w.att_list(global_attrs or {})
    # var_list: a single variable
    w.i4(_NC_VARIABLE)
    w.nn(1)
    w.name(var_name)
    w.nn(len(dims))
    for k in range(len(dims)):
        w.nn(k)
    w.att_list(var_attrs or {})
    w.i4(nc_type)
    raw = data.astype(_NC_TYPES[nc_type]).tobytes()
    begin_w = 8 if off8 else 4

    def offset(v):
        w.buf += struct.pack(">q" if off8 else ">i", v)

    if record_dim:
        # vsize = one record's slab, padded to 4 (the spec waives the
        # padding for a lone record variable; slabs here are already
        # 4-aligned for all supported dtypes except trailing i1/i2
        # slivers, which we pad -- consistent with our own reader and
        # with libnetcdf's stored-vsize stride)
        slab = len(raw) // int(data.shape[0])
        vsize = _pad4(slab)
        w.nn(vsize)
        begin = len(w.buf) + begin_w
        offset(begin)
        pad = b"\x00" * (vsize - slab)
        for r in range(int(data.shape[0])):
            w.buf += raw[r * slab:(r + 1) * slab] + pad
    else:
        vsize = _pad4(len(raw))
        w.nn(vsize)
        begin = len(w.buf) + begin_w  # header so far + the begin field
        offset(begin)
        w.buf += raw + b"\x00" * (vsize - len(raw))
    return bytes(w.buf)


class _Reader:
    def __init__(self, buf: bytes, w64: bool = False):
        self.buf = buf
        self.pos = 0
        self.w64 = w64

    def i4(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.pos)
        self.pos += 4
        return v

    def i8(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.pos)
        self.pos += 8
        return v

    def nn(self) -> int:
        """NON_NEG: 4-byte in CDF-1/2, 8-byte in CDF-5."""
        return self.i8() if self.w64 else self.i4()

    def name(self) -> str:
        n = self.nn()
        s = self.buf[self.pos:self.pos + n].decode()
        self.pos += _pad4(n)
        return s

    def att_values(self):
        nc_type = self.i4()
        n = self.nn()
        if nc_type == 2:
            v = self.buf[self.pos:self.pos + n].decode()
            self.pos += _pad4(n)
            return v
        dt = _NC_TYPES[nc_type]
        nbytes = n * dt.itemsize
        arr = np.frombuffer(self.buf, dt, n, self.pos)
        self.pos += _pad4(nbytes)
        return arr.tolist() if n > 1 else arr[0].item()

    def att_list(self) -> dict:
        tag = self.i4()
        n = self.nn()
        if tag == 0 and n == 0:
            return {}
        if tag != _NC_ATTRIBUTE:
            raise ValueError(f"bad attribute-list tag {tag}")
        return {self.name(): self.att_values() for _ in range(n)}


def parse_netcdf3_header(buf: bytes) -> dict:
    """Header-only parse of a classic file image: dimensions, global
    attributes, and per-variable layout (dtype, begin offset, vsize,
    record flag) WITHOUT touching the data section -- the metadata a
    virtual-zarr reference builder (sources/kerchunk.py) needs.

    Returns ``{"version", "dims", "attrs", "numrecs", "recsize",
    "rec_dimid", "vars": [(name, dimids, attrs, dtype, vsize, begin,
    is_rec)]}``.
    """
    if buf[:3] != b"CDF":
        raise ValueError("not a netcdf classic file (bad magic)")
    version = buf[3]
    if version not in (1, 2, 5):
        raise NotImplementedError(
            f"netcdf version byte {version} not supported "
            "(CDF-1/2/5 only)"
        )
    r = _Reader(buf, w64=(version == 5))
    r.pos = 4
    numrecs = r.nn()  # -1 = STREAMING sentinel: infer from file length
    tag = r.i4()
    ndims = r.nn()
    dims = []
    if tag == _NC_DIMENSION:
        dims = [(r.name(), r.nn()) for _ in range(ndims)]
    elif not (tag == 0 and ndims == 0):
        raise ValueError(f"bad dimension-list tag {tag}")
    rec_dimid = next(
        (k for k, (_, size) in enumerate(dims) if size == 0), None
    )
    gattrs = r.att_list()
    tag = r.i4()
    nvars = r.nn()
    headers = []
    if tag == _NC_VARIABLE:
        for _ in range(nvars):
            vname = r.name()
            nd = r.nn()
            dimids = [r.nn() for _ in range(nd)]
            vattrs = r.att_list()
            nc_type = r.i4()
            vsize = r.nn()
            begin = r.i8() if version in (2, 5) else r.i4()
            dt = _NC_TYPES.get(nc_type)
            if dt is None:
                raise NotImplementedError(f"nc_type {nc_type}")
            is_rec = bool(dimids) and dimids[0] == rec_dimid
            headers.append(
                (vname, dimids, vattrs, dt, vsize, begin, is_rec)
            )
    elif not (tag == 0 and nvars == 0):
        raise ValueError(f"bad variable-list tag {tag}")

    # record stride = sum of the record variables' stored vsizes (a lone
    # record variable's stride is its own vsize, matching the spec's
    # no-padding special case as libnetcdf writes it)
    recsize = sum(h[4] for h in headers if h[6])
    if numrecs == -1 and recsize:
        rec0 = min(h[5] for h in headers if h[6])
        numrecs = (len(buf) - rec0) // recsize
    return {
        "version": version, "dims": dims, "attrs": gattrs,
        "numrecs": numrecs, "recsize": recsize,
        "rec_dimid": rec_dimid, "vars": headers,
    }


def decode_netcdf3(buf: bytes) -> dict:
    """Parse a classic file image.

    Returns ``{"dims": [(name, size), ...], "attrs": {...}, "vars":
    {name: {"dims": (...), "attrs": {...}, "data": np.ndarray}}}``.
    """
    hdr = parse_netcdf3_header(buf)
    dims = hdr["dims"]
    gattrs = hdr["attrs"]
    numrecs = hdr["numrecs"]
    recsize = hdr["recsize"]
    rec_dimid = hdr["rec_dimid"]
    out_vars: dict = {}
    for vname, dimids, vattrs, dt, vsize, begin, is_rec in hdr["vars"]:
        fixed_shape = tuple(
            dims[d][1] for d in dimids if d != rec_dimid or not is_rec
        )
        if is_rec:
            fixed_shape = tuple(dims[d][1] for d in dimids[1:])
            n_fixed = int(np.prod(fixed_shape)) if fixed_shape else 1
            slab = n_fixed * dt.itemsize
            u8 = np.frombuffer(buf, np.uint8)
            offs = (
                begin + recsize * np.arange(numrecs)[:, None]
                + np.arange(slab)[None, :]
            )
            arr = (
                u8[offs].reshape(-1).view(dt)
                .reshape((numrecs,) + fixed_shape)
            )
        else:
            count = int(np.prod(fixed_shape)) if fixed_shape else 1
            arr = np.frombuffer(buf, dt, count, begin).reshape(fixed_shape)
        out_vars[vname] = {
            "dims": tuple(dims[d][0] for d in dimids),
            "attrs": vattrs,
            "data": arr,
        }
    return {"dims": dims, "attrs": gattrs, "vars": out_vars}


def write_netcdf3(
    df: DataFrame,
    path: str,
    var_name: str,
    shape: tuple[int, ...],
    band_rows: int = 256,
    fill_value: float = float("nan"),
    attrs: dict | None = None,
    chunk_put: ChunkPut | None = None,
    version: int = 1,
) -> None:
    """Write a (t, j, i, value) pixel DataFrame as a DIRECTORY of classic
    NetCDF granule files, one per row band (``band_rows`` rows of the
    grid each, the real-world granule layout).  Each granule records its
    grid position in ``j_offset`` and decodes independently -- the write
    is one ``applyInPandas`` shuffle, all bytes through ``chunk_put``.
    ``version`` = 1 (CDF-1), 2 (CDF-2), or 5 (CDF-5).
    """
    nd = len(shape)
    if nd == 2:
        nt, (h, w) = 1, shape
        src = df.filter(F.col("t") == 0)
    elif nd == 3:
        nt, h, w = shape
        src = df
    else:
        raise ValueError("shape must be (h, w) or (nt, h, w)")
    put = chunk_put if chunk_put is not None else FsChunkPut(path)
    fill = float(fill_value)
    n_bands = -(-h // band_rows)
    keyed = src.select(
        (F.col("j") / band_rows).cast("int").alias("band"),
        "t", "j", "i", "value",
    )
    out_schema = T.StructType([T.StructField("file", T.StringType(), False)])
    g_attrs = dict(attrs or {})

    def write_band(key, pdf):
        band = int(key[0])
        j0 = band * band_rows
        rows = min(band_rows, h - j0)
        block = np.full((nt, rows, w), fill, dtype="f8")
        tt = pdf["t"].to_numpy(np.int64)
        jj = pdf["j"].to_numpy(np.int64) - j0
        ii = pdf["i"].to_numpy(np.int64)
        block[tt, jj, ii] = pdf["value"].to_numpy(np.float64)
        dims = ("t", "y", "x") if nd == 3 else ("y", "x")
        data = block if nd == 3 else block[0]
        blob = encode_netcdf3(
            var_name, data, dims,
            global_attrs={"j_offset": j0, **g_attrs},
            version=version,
        )
        fname = f"part-{band:05d}.nc"
        put.put(fname, blob)
        return pd.DataFrame({"file": [fname]})

    keyed.groupBy("band").applyInPandas(write_band, out_schema).count()
    # tiny driver-side manifest so readers can cheaply discover the grid
    put.put(
        "_meta.json",
        json.dumps(
            {"var": var_name, "shape": list(shape),
             "band_rows": band_rows, "n_bands": n_bands}
        ).encode(),
    )


# write_netcdf3 / write_hdf5 name their granules part-<band>.<suffix>
_PART_BAND = re.compile(r"part-(\d+)\.")


def list_granules(
    path: str,
    suffixes: tuple[str, ...],
    var_name: str | None = None,
    bbox_ij: tuple[int, int, int, int] | None = None,
) -> tuple[FsChunkPut, list[str]]:
    """Driver-side granule listing: ``(store, keys)`` for a granule
    directory (its files ending in ``suffixes``, sorted) or for one
    file (``FsChunkPut`` over its directory plus its basename).  The
    root is made absolute here, on the driver: executors open the
    files, and their cwd need not match the driver's.

    Under ``bbox_ij`` a directory with a ``_meta.json`` manifest for
    ``var_name`` keeps only the ``part-<band>.*`` granules whose row
    band intersects the window (band arithmetic, no data touched);
    files with any other name are kept."""
    path = os.path.abspath(path)
    if not os.path.isdir(path):
        if not os.path.isfile(path):
            raise FileNotFoundError(path)
        return FsChunkPut(os.path.dirname(path)), [os.path.basename(path)]
    keys = sorted(f for f in os.listdir(path) if f.endswith(suffixes))
    meta_path = os.path.join(path, "_meta.json")
    if bbox_ij is not None and os.path.exists(meta_path):
        with open(meta_path) as fp:
            meta = json.load(fp)
        if meta.get("var") == var_name:
            br = int(meta["band_rows"])
            _, j0, _, j1 = bbox_ij
            keep = range(max(0, j0 // br), -(-j1 // br))
            bands = {k: _PART_BAND.match(k) for k in keys}
            keys = [k for k, m in bands.items()
                    if m is None or int(m.group(1)) in keep]
    return FsChunkPut(path), keys


def read_granules(
    spark: SparkSession,
    path: str,
    var_name: str,
    bbox_ij: tuple[int, int, int, int] | None,
    decode_cf: bool,
    decode,
    suffixes: tuple[str, ...],
) -> DataFrame:
    """The granule reader behind :func:`read_netcdf3` and
    ``hdf5.read_hdf5``: granules listed by :func:`list_granules` are
    fetched by key and decoded on executors; ``decode(bytes)`` parses
    one file into ``{"attrs": ..., "vars": {name: {"data", "attrs"}}}``.
    Granules without ``var_name`` contribute no rows."""
    store, keys = list_granules(path, suffixes, var_name, bbox_ij)

    def fetch_one(key: str) -> pd.DataFrame | None:
        parsed = decode(store.get(key))
        var = parsed["vars"].get(var_name)
        if var is None:
            return None
        data = var["data"]
        if data.ndim == 2:
            data = data[np.newaxis]
        elif data.ndim != 3:
            raise ValueError(f"variable {var_name} must be 2-D or 3-D")
        data = data.astype(np.float64)
        if decode_cf:
            data = cf_decode(data, var["attrs"])
        ga = parsed["attrs"]
        return block_pixels(data, int(ga.get("t_offset", 0)),
                            int(ga.get("j_offset", 0)),
                            int(ga.get("i_offset", 0)))

    df = fetch_chunks(spark, keys, fetch_one)
    return df if bbox_ij is None else clip_pixels_by_ij_bbox(df, bbox_ij)


def read_netcdf3(
    spark: SparkSession,
    path: str,
    var_name: str,
    bbox_ij: tuple[int, int, int, int] | None = None,
    decode_cf: bool = False,
) -> DataFrame:
    """Read a .nc file or a granule directory as (t, j, i, value) rows.

    The driver lists the directory's ``.nc`` granules and executors
    fetch and decode them by key (:func:`read_granules`): no file
    listing job and no shuffle.  For granule directories with a
    ``_meta.json`` manifest, ``bbox_ij`` prunes whole ``part-<band>``
    granules driver-side (band arithmetic, no data touched) -- the
    NetCDF analogue of the zarr chunk pruning; rows are then filtered
    to the exact window.

    ``decode_cf=True`` applies the variable's CF packing attributes
    (``_FillValue``/``missing_value`` -> NaN, then ``scale_factor`` /
    ``add_offset``) exactly like the zarr reader and xarray.
    """
    return read_granules(spark, path, var_name, bbox_ij, decode_cf,
                         decode_netcdf3, (".nc",))
