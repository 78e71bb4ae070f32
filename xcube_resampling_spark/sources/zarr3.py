"""Zarr v3 chunk-store source/sink (the current zarr core spec).

The reference opens zarr stores through the zarr-python library
(reference cfconv.py:343-358), which reads both v2 and v3; this module
adds the v3 half of that capability next to ``sources/zarr.py`` (v2).

Layout follows the PUBLIC zarr v3 core spec
(https://zarr-specs.readthedocs.io/en/latest/v3/core/v3.0.html):

* root ``zarr.json`` with ``node_type: "group"``;
* one directory per array holding its own ``zarr.json``
  (``node_type: "array"``, ``shape``, ``data_type``, regular
  ``chunk_grid``, ``chunk_key_encoding``, ``fill_value``, ``codecs``
  chain, free-form ``attributes``, ``dimension_names``);
* chunk files under the key encoding: ``default`` -> ``c/<t>/<j>/<i>``
  (configurable separator), ``v2`` -> ``<t>.<j>.<i>``.  Edge chunks are
  stored padded to the full chunk shape, like v2.

Codec chains supported end-to-end: ``bytes`` (little or big endian,
the mandatory array->bytes codec) optionally preceded by ``transpose``
(read path) and followed by ``gzip`` (stdlib), ``blosc`` (the in-repo
pure-numpy blosc1 frame codec, sources/blosc1.py), ``zstd`` (the
in-repo RFC 8878 codec, sources/zstd.py -- the v3 DEFAULT compressor,
so real-world v3 stores now open), and/or ``crc32c``; plus the
``sharding_indexed`` codec (ZEP 2): whole shards of inner chunks with
a crc32c'd offset index, read AND write (``shards=``).

The Spark execution shape is identical to the v2 module (and shares
its scale rationale): metadata is tiny driver-side JSON, chunk writes
are one ``applyInPandas`` task per chunk through the pluggable
``ChunkPut`` seam, reads enumerate only window-intersecting chunk
files into a ``binaryFile`` scan (chunk pruning = partition pruning)
and decode in ``mapInPandas``.
"""

from __future__ import annotations

import gzip as _gzip
import json
import os
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xcube_resampling_spark.sources import blosc1, zstd
from xcube_resampling_spark.sources.zarr import (
    ChunkPut,
    FsChunkPut,
    ZARR_PIXEL_SCHEMA,
)

_V3_DTYPES = {
    "int8", "int16", "int32", "int64",
    "uint8", "uint16", "uint32", "uint64",
    "float32", "float64",
}


def _v3_np_dtype(data_type: str, endian: str) -> np.dtype:
    if data_type not in _V3_DTYPES:
        raise NotImplementedError(
            f"zarr v3 data_type '{data_type}' not supported (numeric only)"
        )
    dt = np.dtype(data_type)
    return dt.newbyteorder("<" if endian == "little" else ">")


def _fill_from_json(fill, dtype: np.dtype):
    """v3 serializes non-finite float fills as the strings
    "NaN" / "Infinity" / "-Infinity", and also allows a byte-precise
    hex string "0x..." (big-endian raw bytes of the element)."""
    if isinstance(fill, str):
        named = {
            "NaN": float("nan"),
            "Infinity": float("inf"),
            "-Infinity": float("-inf"),
        }
        if fill in named:
            return named[fill]
        if fill.startswith("0x"):
            raw = bytes.fromhex(fill[2:])
            if len(raw) != dtype.itemsize:
                raise ValueError(
                    f"hex fill value {fill!r} has {len(raw)} bytes, "
                    f"dtype {dtype} needs {dtype.itemsize}")
            return np.frombuffer(raw, dtype=dtype.newbyteorder(">"))[0]
        raise NotImplementedError(
            f"zarr v3 fill_value {fill!r} not supported")
    return fill


def _fill_to_json(fill_value: float, data_type: str):
    if data_type.startswith("float"):
        f = float(fill_value)
        if np.isnan(f):
            return "NaN"
        if np.isinf(f):
            return "Infinity" if f > 0 else "-Infinity"
        return f
    return int(fill_value)


_CRC32C_TABLE = None


def _crc32c_table() -> list[int]:
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        table = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            table.append(c)
        _CRC32C_TABLE = table
    return _CRC32C_TABLE


_CRC32C_BLOCK = 1024
# lazily built vectorization tables (see _crc32c):
#   W[j][b]  = state after feeding (j zeros, byte b, BLOCK-1-j zeros)
#              from state 0  -- the position-contribution table
#   ZT[k][b] = Z_BLOCK applied to state (b << 8k), byte-decomposed
#              zero-shift table, so Z_BLOCK(c) is 4 lookups
_CRC32C_VECT: tuple | None = None


def _crc32c_vect_tables():
    global _CRC32C_VECT
    if _CRC32C_VECT is None:
        t0 = np.asarray(_crc32c_table(), dtype=np.uint32)

        def z1(states: np.ndarray) -> np.ndarray:
            # one zero-byte step, elementwise on uint32 states
            return t0[(states & 0xFF).astype(np.int64)] ^ (states >> 8)

        S = _CRC32C_BLOCK
        # W built back-to-front: distance 0 (last byte) is t0 itself
        w = np.empty((S, 256), dtype=np.uint32)
        w[S - 1] = t0
        for j in range(S - 2, -1, -1):
            w[j] = z1(w[j + 1])
        zt = np.empty((4, 256), dtype=np.uint32)
        for k in range(4):
            basis = (np.arange(256, dtype=np.uint32)) << np.uint32(
                8 * k)
            for _ in range(S):
                basis = z1(basis)
            zt[k] = basis
        _CRC32C_VECT = (w, [zt])  # zt levels: shift by S, 2S, 4S, ...
    return _CRC32C_VECT


def _crc32c_apply_zt(zt: np.ndarray, states: np.ndarray) -> np.ndarray:
    """Apply a byte-decomposed zero-shift table to uint32 states,
    elementwise (4 gathers + 3 XORs)."""
    s = states.astype(np.int64)
    return (zt[0][s & 0xFF] ^ zt[1][(s >> 8) & 0xFF]
            ^ zt[2][(s >> 16) & 0xFF] ^ zt[3][s >> 24])


def _crc32c_zt_level(levels: list, i: int) -> np.ndarray:
    """Zero-shift table for 2**i blocks, derived by self-composition:
    Z_{2n} basis = Z_n applied to Z_n's own table entries."""
    while len(levels) <= i:
        prev = levels[-1]
        levels.append(np.stack([
            _crc32c_apply_zt(prev, prev[k]) for k in range(4)
        ]).astype(np.uint32))
    return levels[i]


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, polynomial 0x1EDC6F41 reflected 0x82F63B78)
    -- the checksum of the zarr v3 ``crc32c`` codec and the sharding
    index.

    Small buffers (shard indexes) use the plain table loop.  Chunk
    payloads go through a numpy-vectorized block algorithm built on the
    GF(2)-linearity of the CRC state update: a block's data
    contribution is the XOR of per-(position, byte) table entries (one
    fancy-index gather + xor-reduce per 1 KiB block), and carrying the
    running state across a block is four byte-decomposed zero-shift
    lookups -- ~100x the byte loop, which at ~1 s/MB would otherwise
    dominate reads of externally written stores that checksum whole
    chunks rather than just shard indexes."""
    table = _crc32c_table()
    crc = 0xFFFFFFFF
    n = len(data)
    S = _CRC32C_BLOCK
    if n >= 4 * S:
        w, levels = _crc32c_vect_tables()
        arr = np.frombuffer(data, dtype=np.uint8)
        n_blocks = n // S

        def shift_state(c: int, nblk: int) -> int:
            # advance a state over nblk blocks of zeros: binary
            # exponentiation over the doubling zero-shift tables
            s = np.asarray([c], dtype=np.uint32)
            for bit in range(nblk.bit_length()):
                if (nblk >> bit) & 1:
                    zt = _crc32c_zt_level(levels, bit)
                    s = _crc32c_apply_zt(zt, s).astype(np.uint32)
            return int(s[0])

        def fold_slab(blocks: np.ndarray) -> int:
            # fold(c_0..c_{m-1}) = XOR_k Z_{(m-1-k)S}(c_k): a log2(m)
            # tree of vectorized pairwise combines (pad with ZERO
            # contributions at the FRONT -- Z(0)=0 keeps them inert);
            # level i pairs (a, b) -> Z_{2^i S}(a) ^ b
            contrib = np.bitwise_xor.reduce(
                w[np.arange(S), blocks], axis=1)
            m = 1 << (len(contrib) - 1).bit_length()
            if m != len(contrib):
                contrib = np.concatenate([
                    np.zeros(m - len(contrib), dtype=np.uint32),
                    contrib])
            lvl = 0
            while len(contrib) > 1:
                zt = _crc32c_zt_level(levels, lvl)
                contrib = (_crc32c_apply_zt(zt, contrib[0::2])
                           ^ contrib[1::2]).astype(np.uint32)
                lvl += 1
            return int(contrib[0])

        # bounded slabs: the gather materializes a 4x-slab uint32 temp,
        # so a whole-buffer pass over a 512 MB chunk would allocate
        # ~2 GB at once; 16 Ki blocks (16 MiB data, ~64 MiB temp) keeps
        # memory flat with no measurable speed cost
        SLAB = 16384
        for s0 in range(0, n_blocks, SLAB):
            nblk = min(SLAB, n_blocks - s0)
            blocks = arr[s0 * S: (s0 + nblk) * S].reshape(nblk, S)
            crc = shift_state(crc, nblk) ^ fold_slab(blocks)
        data = data[n_blocks * S:]
    for b in data:
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _parse_codecs(codecs: list[dict]) -> tuple[str, list[dict]]:
    """Validate the codec chain; return (endian, bytes->bytes codecs)."""
    if not codecs:
        raise ValueError("zarr v3 array metadata has an empty codecs list")
    ab = [c for c in codecs if c.get("name") == "bytes"]
    if len(ab) != 1:
        raise NotImplementedError(
            "zarr v3 codec chain must contain exactly one 'bytes' codec"
        )
    endian = (ab[0].get("configuration") or {}).get("endian", "little")
    bb = [
        c for c in codecs
        if c.get("name") in ("gzip", "blosc", "zstd", "crc32c")
    ]
    unknown = [
        c["name"] for c in codecs
        if c.get("name") not in ("bytes", "gzip", "blosc", "zstd",
                                 "crc32c", "transpose")
    ]
    if unknown:
        raise NotImplementedError(
            f"zarr v3 codecs {unknown} not available in this build"
        )
    return endian, bb


def _decode_chain(raw: bytes, bb_codecs: list[dict]) -> bytes:
    for c in reversed(bb_codecs):
        if c["name"] == "gzip":
            raw = _gzip.decompress(raw)
        elif c["name"] == "blosc":
            raw = blosc1.decode(raw)
        elif c["name"] == "zstd":
            raw = zstd.decompress(raw)
        elif c["name"] == "crc32c":
            body, stored = raw[:-4], raw[-4:]
            if _crc32c(body) != int.from_bytes(stored, "little"):
                raise ValueError("zarr v3 crc32c checksum mismatch")
            raw = body
    return raw


def _encode_chain(raw: bytes, bb_codecs: list[dict],
                  typesize: int) -> bytes:
    for c in bb_codecs:
        if c["name"] == "gzip":
            level = (c.get("configuration") or {}).get("level", 1)
            raw = _gzip.compress(raw, compresslevel=level)
        elif c["name"] == "blosc":
            raw = blosc1.encode(raw, typesize=typesize, clevel=1,
                                shuffle=True)
        elif c["name"] == "zstd":
            cfg = c.get("configuration") or {}
            raw = zstd.compress(
                raw, checksum=bool(cfg.get("checksum", False)),
                literals="huffman", tables="fitted",
            )
        elif c["name"] == "crc32c":
            raw = raw + _crc32c(raw).to_bytes(4, "little")
    return raw


_SHARD_MISSING = 0xFFFFFFFFFFFFFFFF


def _encode_shard(
    block: np.ndarray,
    inner: tuple[int, int, int],
    bb_codecs: list[dict],
) -> bytes:
    """One shard object: inner chunks encoded by the inner chain in
    C order, then the (offset, nbytes) uint64-pair index + crc32c at
    the shard END (the spec's default index_location)."""
    n = tuple(s // c for s, c in zip(block.shape, inner))
    payload = bytearray()
    entries = []
    for it in range(n[0]):
        for ij in range(n[1]):
            for ii in range(n[2]):
                sub = np.ascontiguousarray(block[
                    it * inner[0]:(it + 1) * inner[0],
                    ij * inner[1]:(ij + 1) * inner[1],
                    ii * inner[2]:(ii + 1) * inner[2],
                ])
                raw = _encode_chain(sub.tobytes(), bb_codecs, 8)
                entries.append((len(payload), len(raw)))
                payload += raw
    index = b"".join(
        struct.pack("<QQ", off, nb) for off, nb in entries
    )
    index += _crc32c(index).to_bytes(4, "little")
    return bytes(payload) + index


def _decode_shard(
    blob: bytes,
    outer: tuple[int, int, int],
    inner: tuple[int, int, int],
    dtype: np.dtype,
    bb_codecs: list[dict],
    index_codecs: list[dict],
    index_location: str,
    fill: float,
) -> np.ndarray:
    n = tuple(s // c for s, c in zip(outer, inner))
    n_chunks = n[0] * n[1] * n[2]
    # the index slice below assumes size-preserving index codecs (the
    # spec default: bytes + optional crc32c); anything else (e.g. gzip)
    # would shift the byte ranges -- refuse rather than mis-slice
    bad = [c.get("name") for c in index_codecs
           if c.get("name") not in ("bytes", "crc32c")]
    if bad:
        raise NotImplementedError(
            f"sharding index_codecs {bad} not supported")
    idx_size = 16 * n_chunks
    if any(c.get("name") == "crc32c" for c in index_codecs):
        idx_size += 4
    if index_location == "start":
        idx_raw, payload_base = blob[:idx_size], 0
    else:
        idx_raw, payload_base = blob[-idx_size:], 0
    idx_endian, idx_bb = _parse_codecs(index_codecs)
    idx = _decode_chain(idx_raw, idx_bb)
    idx_fmt = "<QQ" if idx_endian == "little" else ">QQ"
    out = np.full(outer, fill, dtype=np.float64)
    k = 0
    for it in range(n[0]):
        for ij in range(n[1]):
            for ii in range(n[2]):
                off, nb = struct.unpack_from(idx_fmt, idx, 16 * k)
                k += 1
                if off == _SHARD_MISSING and nb == _SHARD_MISSING:
                    continue
                raw = _decode_chain(
                    blob[payload_base + off:payload_base + off + nb],
                    bb_codecs,
                )
                sub = np.frombuffer(raw, dtype=dtype).reshape(inner)
                out[
                    it * inner[0]:(it + 1) * inner[0],
                    ij * inner[1]:(ij + 1) * inner[1],
                    ii * inner[2]:(ii + 1) * inner[2],
                ] = sub
    return out


def _transpose_order(
    codecs: list[dict], rank: int
) -> tuple[int, ...] | None:
    """Permutation of the array->array ``transpose`` codec, if present
    (it must precede the ``bytes`` codec; stored chunks hold the
    permuted axis order and readers apply the inverse)."""
    for c in codecs:
        if c.get("name") == "transpose":
            order = (c.get("configuration") or {}).get("order")
            if order is None or sorted(order) != list(range(rank)):
                raise ValueError(
                    f"invalid transpose order {order!r} for rank {rank}"
                )
            return tuple(int(a) for a in order)
    return None


def _chunk_key(indices: tuple[int, ...], key_enc: dict) -> str:
    name = key_enc.get("name", "default")
    sep = (key_enc.get("configuration") or {}).get(
        "separator", "/" if name == "default" else "."
    )
    if name == "default":
        return "c" + "".join(f"{sep}{k}" for k in indices)
    if name == "v2":
        return sep.join(str(k) for k in indices)
    raise NotImplementedError(
        f"zarr v3 chunk_key_encoding '{name}' not supported"
    )


def _indices_from_path(path: str, adir: str, key_enc: dict,
                       nd: int) -> tuple[int, ...]:
    rel = os.path.relpath(os.path.abspath(path), os.path.abspath(adir))
    name = key_enc.get("name", "default")
    sep = (key_enc.get("configuration") or {}).get(
        "separator", "/" if name == "default" else "."
    )
    if name == "default":
        rel = rel.replace(os.sep, sep)
        parts = rel.split(sep)
        if parts and parts[0] == "c":
            parts = parts[1:]
    else:
        # v2 encoding: separator '.' keeps the key in one basename;
        # separator '/' nests the key as directories -- split the whole
        # array-relative path either way
        rel2 = rel.replace(os.sep, sep) if sep == "/" else rel
        parts = rel2.split(sep) if sep == "/" \
            else os.path.basename(rel2).split(sep)
    idx = tuple(int(p) for p in parts)
    if len(idx) != nd:
        raise ValueError(f"chunk key '{rel}' does not match rank {nd}")
    return idx


def is_zarr3_array(path: str, var_name: str) -> bool:
    return os.path.exists(os.path.join(path, var_name, "zarr.json"))


def _write_zarr3_metadata(
    put: ChunkPut,
    var_name: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    fill_value: float,
    codec: str | None,
    attrs: dict | None,
    separator: str,
    shards: tuple[int, ...] | None = None,
) -> tuple[list[dict], dict]:
    """Driver-side zarr.json documents; returns (codecs, key_enc).

    With ``shards``, the chunk grid is the SHARD grid and the codec
    chain is one ``sharding_indexed`` codec whose inner chunks are
    ``chunks`` encoded by the inner chain (crc32c'd index at the shard
    end, per the zarr v3 sharding codec spec / ZEP 2)."""
    if codec not in ("gzip", "blosc", "zstd", None):
        raise NotImplementedError(
            "codec must be 'gzip', 'blosc', 'zstd', or None")
    nd = len(shape)
    if nd not in (2, 3) or len(chunks) != nd:
        raise ValueError("shape/chunks must both be 2-D or 3-D")
    codecs: list[dict] = [
        {"name": "bytes", "configuration": {"endian": "little"}}
    ]
    if codec == "gzip":
        codecs.append({"name": "gzip", "configuration": {"level": 1}})
    elif codec == "zstd":
        # the zarr v3 DEFAULT compressor (in-repo RFC 8878 codec,
        # sources/zstd.py); level is advisory -- this encoder has one
        # strategy (huffman literals + fitted FSE tables)
        codecs.append({
            "name": "zstd",
            "configuration": {"level": 0, "checksum": False},
        })
    elif codec == "blosc":
        codecs.append({
            "name": "blosc",
            "configuration": {
                "cname": "zlib", "clevel": 1, "shuffle": "shuffle",
                "typesize": 8, "blocksize": 0,
            },
        })
    grid_chunks = chunks
    if shards is not None:
        if len(shards) != nd:
            raise ValueError("shards rank must match shape rank")
        if any(s % c for s, c in zip(shards, chunks)):
            raise ValueError(
                "inner chunk_shape must divide the shard shape"
            )
        codecs = [{
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": list(chunks),
                "codecs": codecs,
                "index_codecs": [
                    {"name": "bytes",
                     "configuration": {"endian": "little"}},
                    {"name": "crc32c"},
                ],
                "index_location": "end",
            },
        }]
        grid_chunks = shards
    key_enc = {
        "name": "default", "configuration": {"separator": separator}
    }
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(shape),
        "data_type": "float64",
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(grid_chunks)},
        },
        "chunk_key_encoding": key_enc,
        "fill_value": _fill_to_json(fill_value, "float64"),
        "codecs": codecs,
        "attributes": dict(attrs or {}),
        "dimension_names": ["t", "y", "x"][-nd:],
    }
    # only create the root group document if the store has none --
    # an existing one may carry group-level attributes another tool
    # wrote, which a fresh empty document would silently destroy
    # (FsChunkPut.get reads the store root; a custom ChunkPut that
    # cannot read returns None and keeps the old create-always shape)
    if put.get("zarr.json") is None:
        put.put("zarr.json", json.dumps(
            {"zarr_format": 3, "node_type": "group", "attributes": {}}
        ).encode())
    put.put(f"{var_name}/zarr.json", json.dumps(meta).encode())
    return codecs, key_enc


def _write_zarr3_chunks(
    df: DataFrame,
    put: ChunkPut,
    var_name: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    fill_value: float,
    codecs: list[dict],
    key_enc: dict,
) -> None:
    """Distributed chunk write: one applyInPandas task per chunk
    (per SHARD when the chain is ``sharding_indexed`` -- ``chunks``
    is then the shard/grid shape and the inner layout comes from the
    codec configuration)."""
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
    if codecs and codecs[0].get("name") == "sharding_indexed":
        cfg = codecs[0]["configuration"]
        inner = tuple(int(c) for c in cfg["chunk_shape"])
        inner3 = (1,) + inner if len(inner) == 2 else inner
        _, bb_codecs = _parse_codecs(cfg["codecs"])
        shard_inner: tuple[int, int, int] | None = inner3
    else:
        bb_codecs = codecs[1:]
        shard_inner = None
    out_schema = "key string"

    def write_chunk(key, pdf):
        kt, kj, ki = int(key[0]), int(key[1]), int(key[2])
        block = np.full(chunk_shape, fill, dtype="<f8")
        tt = pdf["t"].to_numpy(np.int64) - kt * ct_t
        jj = pdf["j"].to_numpy(np.int64) - kj * ct_j
        ii = pdf["i"].to_numpy(np.int64) - ki * ct_i
        block[tt, jj, ii] = pdf["value"].to_numpy(np.float64)
        if shard_inner is not None:
            raw = _encode_shard(block, shard_inner, bb_codecs)
        else:
            raw = _encode_chain(block.tobytes(order="C"), bb_codecs, 8)
        indices = (kj, ki) if nd == 2 else (kt, kj, ki)
        k = _chunk_key(indices, key_enc)
        put.put(f"{var_name}/{k}", raw)
        return pd.DataFrame({"key": [k]})

    keyed.groupBy("ck_t", "ck_j", "ck_i").applyInPandas(
        write_chunk, out_schema
    ).count()


def write_zarr3(
    df: DataFrame,
    path: str,
    var_name: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    fill_value: float = float("nan"),
    codec: str | None = "gzip",
    attrs: dict | None = None,
    chunk_put: ChunkPut | None = None,
    separator: str = "/",
    shards: tuple[int, ...] | None = None,
) -> None:
    """Write a (t, j, i, value) pixel DataFrame as a zarr v3 float64
    array (driver writes the two zarr.json documents; executors write
    one chunk file per ``applyInPandas`` group through ``chunk_put``).

    With ``shards`` (a multiple of ``chunks`` per axis) the store uses
    the ``sharding_indexed`` codec: each written object is one SHARD
    holding many inner chunks plus a crc32c'd offset index -- the v3
    layout for object stores where billions of tiny chunk objects are
    the bottleneck (fewer PUTs, ranged GETs per inner chunk)."""
    put = chunk_put if chunk_put is not None else FsChunkPut(path)
    codecs, key_enc = _write_zarr3_metadata(
        put, var_name, shape, chunks, fill_value, codec, attrs,
        separator, shards,
    )
    _write_zarr3_chunks(
        df, put, var_name, shape, shards if shards else chunks,
        fill_value, codecs, key_enc,
    )


def _put_small_array3(
    put: ChunkPut, name: str, values: np.ndarray, attrs: dict
) -> None:
    """Tiny driver-side v3 array (1-D coords / 0-d spatial_ref): one
    uncompressed bytes-codec chunk (key ``c/0``, or ``c`` for 0-d)."""
    values = np.asarray(values)
    dtype = "int64" if values.dtype.kind in "iu" else "float64"
    values = values.astype("<i8" if dtype == "int64" else "<f8")
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(values.shape),
        "data_type": dtype,
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(values.shape)},
        },
        "chunk_key_encoding": {
            "name": "default", "configuration": {"separator": "/"}
        },
        "fill_value": 0,
        "codecs": [{"name": "bytes",
                    "configuration": {"endian": "little"}}],
        "attributes": attrs,
    }
    if values.ndim:
        meta["dimension_names"] = [name]
    put.put(f"{name}/zarr.json", json.dumps(meta).encode())
    chunk_key = "c/" + "/".join(["0"] * values.ndim) if values.ndim \
        else "c"
    put.put(f"{name}/{chunk_key}", values.tobytes(order="C"))


def add_spatial_ref3(
    path: str,
    crs,
    *,
    crs_var_name: str = "spatial_ref",
    data_var_names: list[str] | None = None,
    chunk_put: ChunkPut | None = None,
) -> None:
    """Inject a CF CRS variable into an existing zarr v3 store and point
    the data variables' ``grid_mapping`` attribute at it (v3 face of
    the reference's add_spatial_ref; attributes live inside each
    array's zarr.json)."""
    from xcube_resampling_spark.crs import CRS

    crs = CRS.from_user_input(crs)
    put = chunk_put if chunk_put is not None else FsChunkPut(path)
    _put_small_array3(put, crs_var_name, np.int64(0), crs.to_cf())
    if data_var_names is None:
        if os.path.isdir(path):
            data_var_names = [
                d for d in os.listdir(path)
                if not d.startswith(".") and d != crs_var_name
                and os.path.exists(os.path.join(path, d, "zarr.json"))
            ]
        else:
            # non-local root: discover arrays through the store seam;
            # an empty discovery here would silently produce an
            # un-georeferenced store, so a store that cannot enumerate
            # must get explicit names
            known = getattr(put, "known_keys", None)
            if not callable(known):
                raise ValueError(
                    f"{path!r} is not a local directory and the chunk "
                    "store cannot enumerate keys; pass data_var_names "
                    "explicitly")
            data_var_names = sorted({
                k.split("/", 1)[0] for k in known()
                if k.endswith("/zarr.json")
                and not k.startswith(".")
                and k.split("/", 1)[0] != crs_var_name
            })
    for var in data_var_names:
        # read prior metadata THROUGH the ChunkPut seam first (the same
        # fix the v2 add_spatial_ref got): with a custom put rooted on
        # an object store, the local path may not exist -- silently
        # skipping would drop the grid_mapping attribute, and reading
        # the local file could resurrect stale attributes over the
        # store's fresher ones
        raw = put.get(f"{var}/zarr.json")
        if raw is None:
            try:
                with open(os.path.join(path, var, "zarr.json"),
                          "rb") as fp:
                    raw = fp.read()
            except OSError:
                raise ValueError(
                    f"cannot read {var}/zarr.json through the ChunkPut "
                    "or the local store root; refusing to skip the "
                    "grid_mapping update silently")
        meta = json.loads(raw)
        if meta.get("node_type") != "array":
            continue
        dims = meta.get("dimension_names") or []
        if var in ("x", "y", "t", "lon", "lat", "time") or dims == [var]:
            continue
        meta.setdefault("attributes", {})["grid_mapping"] = crs_var_name
        put.put(f"{var}/zarr.json", json.dumps(meta).encode())


def write_zarr3_cf(
    df: DataFrame,
    path: str,
    var_name: str,
    grid_mapping,
    fill_value: float = float("nan"),
    codec: str | None = "gzip",
    attrs: dict | None = None,
    nt: int = 0,
    chunk_put: ChunkPut | None = None,
    shards: tuple[int, ...] | None = None,
    chunks: tuple[int, ...] | None = None,
    time_values=None,
    time_units: str | None = None,
    time_calendar: str | None = None,
) -> None:
    """CF/xarray-complete zarr v3 store: data array + 1-D x/y cell-center
    coordinate arrays + spatial_ref variable (v3 twin of write_zarr_cf,
    including the ``time_values`` CF time-coordinate contract)."""
    gm = grid_mapping
    w, h = gm.size
    shape = (nt, h, w) if nt else (h, w)
    if chunks is None:
        tw, th = gm.tile_size if gm.tile_size else (w, h)
        chunks = (1, th, tw) if nt else (th, tw)
    put = chunk_put if chunk_put is not None else FsChunkPut(path)
    write_zarr3(df, path, var_name, shape, chunks,
                fill_value=fill_value, codec=codec, attrs=attrs,
                chunk_put=put, shards=shards)
    geographic = gm.crs.is_geographic
    _put_small_array3(
        put, "x", np.asarray(gm.x_coords, dtype="<f8"),
        {"standard_name": "longitude" if geographic
         else "projection_x_coordinate"})
    _put_small_array3(
        put, "y", np.asarray(gm.y_coords, dtype="<f8"),
        {"standard_name": "latitude" if geographic
         else "projection_y_coordinate"})
    if time_values is not None:
        from xcube_resampling_spark.sources.zarr import (
            encode_time_coordinate,
        )

        tv, tattrs = encode_time_coordinate(
            time_values, nt, time_units, time_calendar)
        _put_small_array3(put, "t", tv, tattrs)
    add_spatial_ref3(path, gm.crs, data_var_names=[var_name],
                     chunk_put=put)


def read_zarr3_grid_mapping(path: str, crs_var_name: str = "spatial_ref"):
    """Reconstruct the GridMapping of a CF zarr v3 store (v3 twin of
    zarr.read_zarr_grid_mapping); returns None without x/y arrays."""
    from xcube_resampling_spark.crs import CRS, CRS_WGS84
    from xcube_resampling_spark.gridmapping import GridMapping

    def _arr(name):
        arr, _attrs = read_zarr3_coord_array(path, name)
        return None if arr is None else arr.astype("float64")

    x = _arr("x")
    y = _arr("y")
    if x is None or y is None:
        return None
    mpath = os.path.join(path, crs_var_name, "zarr.json")
    if os.path.exists(mpath):
        with open(mpath) as fp:
            crs = CRS.from_cf(json.load(fp).get("attributes", {}))
    else:
        crs = CRS_WGS84
    return GridMapping.from_coords(x, y, crs, xy_var_names=("x", "y"),
                                   xy_dim_names=("x", "y"))


def read_zarr3_coord_array(path: str, name: str):
    """Read a 1-D coordinate array + its attributes from a zarr v3
    store (v3 twin of zarr.read_zarr_coord_array; driver-side).
    Decodes through the module's normal codec chain, walks EVERY
    chunk of the grid, and honors the store's chunk_key_encoding --
    externally written stores compress coordinates (zstd is the v3
    default) and chunk long time axes.  Returns ``(None, {})`` when
    the array is absent."""
    mpath = os.path.join(path, name, "zarr.json")
    if not os.path.exists(mpath):
        return None, {}
    with open(mpath) as fp:
        meta = json.load(fp)
    if len(meta.get("shape", [])) != 1:
        return None, {}
    endian_word, bb = _parse_codecs(meta.get("codecs") or [])
    dt = _v3_np_dtype(meta["data_type"], endian_word)
    n = int(meta["shape"][0])
    if n == 0:
        return None, {}
    c = int((meta.get("chunk_grid") or {}).get(
        "configuration", {}).get("chunk_shape", [n])[0]) or n
    key_enc = meta.get("chunk_key_encoding") or {"name": "default"}
    parts = []
    for k in range(-(-n // c)):
        cpath = os.path.join(path, name, _chunk_key((k,), key_enc))
        if not os.path.exists(cpath):
            return None, {}
        with open(cpath, "rb") as fp:
            raw = fp.read()
        parts.append(np.frombuffer(_decode_chain(raw, bb), dt))
    arr = np.concatenate(parts)[:n]
    return arr, dict(meta.get("attributes") or {})


def open_zarr3_dataset(
    spark: SparkSession,
    path: str,
    variables: list[str] | None = None,
    bbox_ij: tuple[int, int, int, int] | None = None,
    decode_cf: bool = False,
):
    """Open a CF zarr v3 store as ``(SparkDataset, GridMapping)`` (v3
    twin of zarr.open_zarr_dataset)."""
    from xcube_resampling_spark.dataset import SparkDataset, Variable

    gm = read_zarr3_grid_mapping(path)
    if gm is None:
        raise ValueError(
            f"{path!r} has no x/y coordinate arrays; open the variable "
            "directly with read_zarr3 and supply a GridMapping")
    aux = {"x", "y", "t", "time", "lon", "lat", "spatial_ref"}
    if variables is None:
        variables = sorted(
            d for d in os.listdir(path)
            if not d.startswith(".") and d not in aux
            and os.path.exists(os.path.join(path, d, "zarr.json"))
        )
    data_vars = {}
    for var in variables:
        with open(os.path.join(path, var, "zarr.json")) as fp:
            meta = json.load(fp)
        dims = tuple(meta.get("dimension_names")
                     or ("t", "y", "x")[-len(meta["shape"]):])
        attrs = {k: v for k, v in
                 (meta.get("attributes") or {}).items()}
        df = read_zarr3(spark, path, var, bbox_ij=bbox_ij,
                        decode_cf=decode_cf)
        data_vars[var] = Variable(var, df, dims, "float64", attrs,
                                  shape=tuple(int(n) for n in meta["shape"]))
    coords = {"x": np.asarray(gm.x_coords, dtype="float64"),
              "y": np.asarray(gm.y_coords, dtype="float64")}
    coord_attrs = {"spatial_ref": gm.crs.to_cf()}
    # surface the store's time axis (same contract as the v2 open:
    # the coordinate matching the data vars' leading dim first, CF
    # decode under decode_cf, raw fallback otherwise)
    lead_dims = [v.dims[0] for v in data_vars.values()
                 if len(v.dims) == 3]
    tried = []
    for tname in (*lead_dims, "time", "t"):
        if (not isinstance(tname, str) or tname in tried
                or tname in ("y", "x", "lat", "lon")):
            # dimension_names entries may legally be null (spec);
            # a None name must not reach os.path.join
            continue
        tried.append(tname)
        try:
            tarr, tattrs = read_zarr3_coord_array(path, tname)
        except NotImplementedError:
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


def write_zarr3_stream(
    df: DataFrame,
    path: str,
    var_name: str,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    fill_value: float = float("nan"),
    codec: str | None = "gzip",
    attrs: dict | None = None,
    chunk_put: ChunkPut | None = None,
    separator: str = "/",
    checkpoint: str | None = None,
):
    """Streaming zarr v3 ingestion -- the v3 face of
    ``zarr.write_zarr_stream``: metadata once on the driver (``shape``
    is the declared maximum extent), each micro-batch lands as chunk
    files via ``foreachBatch``.  Replay-idempotent when every chunk is
    fully covered by one micro-batch (``chunks[0] == 1`` frame chunks).
    Returns the started ``StreamingQuery``."""
    put = chunk_put if chunk_put is not None else FsChunkPut(path)
    codecs, key_enc = _write_zarr3_metadata(
        put, var_name, shape, chunks, fill_value, codec, attrs, separator
    )

    def write_batch(bdf, _epoch_id):
        _write_zarr3_chunks(
            bdf, put, var_name, shape, chunks, fill_value, codecs, key_enc
        )

    writer = df.writeStream.foreachBatch(write_batch).outputMode("append")
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def read_zarr3(
    spark: SparkSession,
    path: str,
    var_name: str,
    bbox_ij: tuple[int, int, int, int] | None = None,
    decode_cf: bool = False,
    store=None,
) -> DataFrame:
    """Read a zarr v3 array as a (t, j, i, value) pixel DataFrame.

    Same contract as ``zarr.read_zarr`` (the v2 reader): ``bbox_ij``
    prunes chunk FILES driver-side before the binaryFile scan;
    ``decode_cf=True`` applies ``_FillValue``/``missing_value`` ->
    NaN then ``scale_factor``/``add_offset`` from the array's
    ``attributes``.  ``store`` reads through a non-filesystem chunk
    store (ZipChunkStore / FlatKVChunkPut / any ChunkPut with ``get``):
    metadata driver-side, chunk GETs distributed over the pruned key
    list (``path`` is ignored when given)."""
    # absolutize ON THE DRIVER: executors receive absolute file: paths
    # from binaryFile, and their cwd need not match the driver's, so a
    # relative adir captured in the decode closure would mis-resolve
    adir = os.path.abspath(os.path.join(path, var_name))
    if store is not None:
        raw_meta = store.get(f"{var_name}/zarr.json")
        if raw_meta is None:
            raise FileNotFoundError(
                f"no {var_name}/zarr.json in the chunk store")
        meta = json.loads(raw_meta)
    else:
        with open(os.path.join(adir, "zarr.json")) as fp:
            meta = json.load(fp)
    if meta.get("node_type") != "array" or meta.get("zarr_format") != 3:
        raise ValueError(f"{adir}/zarr.json is not a zarr v3 array")
    grid = meta.get("chunk_grid", {})
    if grid.get("name") != "regular":
        raise NotImplementedError(
            f"zarr v3 chunk_grid '{grid.get('name')}' not supported"
        )
    all_codecs = meta.get("codecs", [])
    if all_codecs and all_codecs[0].get("name") == "sharding_indexed":
        if len(all_codecs) > 1:
            raise NotImplementedError(
                "codecs after sharding_indexed not supported"
            )
        shard_cfg = all_codecs[0].get("configuration") or {}
        endian, bb_codecs = _parse_codecs(shard_cfg["codecs"])
        if any(c.get("name") == "transpose"
               for c in shard_cfg["codecs"]):
            raise NotImplementedError(
                "transpose inside sharding_indexed not supported"
            )
        shard_inner_raw = tuple(
            int(c) for c in shard_cfg["chunk_shape"]
        )
        shard_index_codecs = shard_cfg.get("index_codecs", [
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "crc32c"},
        ])
        shard_index_location = shard_cfg.get("index_location", "end")
    else:
        shard_cfg = None
        endian, bb_codecs = _parse_codecs(all_codecs)
    dtype = _v3_np_dtype(meta["data_type"], endian)
    store_fill = _fill_from_json(meta.get("fill_value", "NaN"), dtype)
    key_enc = meta.get("chunk_key_encoding", {"name": "default"})
    attrs = meta.get("attributes", {}) or {}
    fill_attr = attrs.get("_FillValue", attrs.get("missing_value"))
    if fill_attr is None:
        fill_values: list[float] | None = None
    elif isinstance(fill_attr, (list, tuple)):
        fill_values = [float(f) for f in fill_attr]
    else:
        fill_values = [float(fill_attr)]
    scale = float(attrs.get("scale_factor", 1.0))
    offset = float(attrs.get("add_offset", 0.0))

    shape = tuple(int(s) for s in meta["shape"])
    chunks = tuple(int(c) for c in grid["configuration"]["chunk_shape"])
    nd = len(shape)
    t_order = (
        None if shard_cfg is not None
        else _transpose_order(all_codecs, nd)
    )
    t_inverse = (
        tuple(int(a) for a in np.argsort(t_order))
        if t_order is not None else None
    )
    chunks_nd = chunks
    if nd == 2:
        shape3 = (1,) + shape
        chunks3 = (1,) + chunks
    elif nd == 3:
        shape3, chunks3 = shape, chunks
    else:
        raise NotImplementedError("only 2-D/3-D zarr v3 arrays supported")
    nt, h, w = shape3
    ct_t, ct_j, ct_i = chunks3
    n_kt = -(-nt // ct_t)
    n_kj = -(-h // ct_j)
    n_ki = -(-w // ct_i)

    if bbox_ij is not None:
        i0, j0, i1, j1 = bbox_ij
        kj_r = range(max(0, j0 // ct_j), min(n_kj, -(-j1 // ct_j)))
        ki_r = range(max(0, i0 // ct_i), min(n_ki, -(-i1 // ct_i)))
    else:
        kj_r, ki_r = range(n_kj), range(n_ki)
    key_idx = {
        _chunk_key((kj, ki) if nd == 2 else (kt, kj, ki), key_enc):
            (kt, kj, ki)
        for kt in range(n_kt)
        for kj in kj_r
        for ki in ki_r
    }

    def decode_block(content: bytes, kt: int, kj: int,
                     ki: int) -> pd.DataFrame:
        if shard_cfg is not None:
            inner3 = (
                (1,) + shard_inner_raw
                if len(shard_inner_raw) == 2 else shard_inner_raw
            )
            block = _decode_shard(
                content, (ct_t, ct_j, ct_i), inner3,
                dtype, bb_codecs, shard_index_codecs,
                shard_index_location, float(store_fill),
            )
        elif t_order is not None:
            # stored chunks hold the permuted axis order;
            # undo it before the t/j/i promotion
            raw = _decode_chain(content, bb_codecs)
            stored = tuple(chunks_nd[a] for a in t_order)
            blk = np.frombuffer(raw, dtype=dtype).reshape(stored)
            blk = np.transpose(blk, axes=t_inverse)
            block = blk.reshape(ct_t, ct_j, ct_i)
        else:
            raw = _decode_chain(content, bb_codecs)
            block = np.frombuffer(raw, dtype=dtype).reshape(
                ct_t, ct_j, ct_i
            )
        t_off, j_off, i_off = kt * ct_t, kj * ct_j, ki * ct_i
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

    if store is not None:
        known = getattr(store, "known_keys", None)
        if callable(known):
            have = set(known())
            key_idx = {
                k: v for k, v in key_idx.items()
                if f"{var_name}/{k}" in have
            }
        if not key_idx:
            return spark.createDataFrame([], schema=ZARR_PIXEL_SCHEMA)
        n_part = max(1, min(
            len(key_idx), spark.sparkContext.defaultParallelism))
        keys_df = spark.createDataFrame(
            [(k, kt, kj, ki) for k, (kt, kj, ki) in key_idx.items()],
            "chunk string, kt int, kj int, ki int",
        ).repartition(n_part)

        def fetch(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = []
                for key, kt, kj, ki in zip(
                        pdf["chunk"], pdf["kt"], pdf["kj"], pdf["ki"]):
                    raw = store.get(f"{var_name}/{key}")
                    if raw is None:
                        continue
                    outs.append(
                        decode_block(bytes(raw), int(kt), int(kj),
                                     int(ki)))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        df = keys_df.mapInPandas(fetch, ZARR_PIXEL_SCHEMA)
    else:
        files = [
            os.path.join(adir, k) for k in key_idx
            if os.path.exists(os.path.join(adir, k))
        ]
        if not files:
            return spark.createDataFrame([], schema=ZARR_PIXEL_SCHEMA)
        binf = spark.read.format("binaryFile").load(files)

        def decode(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                outs = []
                for p, content in zip(pdf["path"], pdf["content"]):
                    local = (p[len("file:"):] if p.startswith("file:")
                             else p)
                    idx = _indices_from_path(local, adir, key_enc, nd)
                    if nd == 2:
                        kt, kj, ki = 0, idx[0], idx[1]
                    else:
                        kt, kj, ki = idx
                    outs.append(decode_block(bytes(content), kt, kj, ki))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        df = binf.select("path", "content").mapInPandas(
            decode, ZARR_PIXEL_SCHEMA
        )
    if bbox_ij is not None:
        i0, j0, i1, j1 = bbox_ij
        df = df.filter(
            (F.col("i") >= i0) & (F.col("i") < i1)
            & (F.col("j") >= j0) & (F.col("j") < j1)
        )
    return df
