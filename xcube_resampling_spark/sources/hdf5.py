"""HDF5 subset source/sink -- the container format of NetCDF-4.

The reference opens NetCDF-4 datasets through xarray/netCDF4, whose
storage layer is HDF5 (reference cfconv.py:343-358 reads whatever
xarray opens).  No HDF5 library ships in this environment, so this
module implements the PUBLIC file format subset that default netCDF-4
/ h5py writers produce, straight from the HDF5 File Format
Specification (https://docs.hdfgroup.org/hdf5/develop/_f_m_t3.html):

* superblock version 0 (and 2/3 accepted on read), 8-byte offsets
  and lengths;
* version-1 object headers, and version-2 ("OHDR", the libver=latest
  layout) with Jenkins lookup3 gateway checksums -- readable and
  writable (``header_version=2``);
* root group as a version-1 B-tree + SNOD symbol table + local heap
  (the default "old-style" group every stock libhdf5 writes),
  new-style COMPACT groups (Link Info + hard Link messages,
  ``group_style="links"`` on write), and new-style DENSE groups
  (fractal heap FRHP/FHDB/FHIB incl. NESTED indirect blocks, +
  name-index version-2 B-tree BTHD/BTIN/BTLF at any depth, both
  readable and writable -- the ``libver=latest`` layout for groups
  with more than 8 links; ``group_style="dense"`` on write);
* messages: dataspace (0x0001), datatype (0x0003: fixed-point and
  IEEE float in either endianness, fixed strings, COMPOUND class 6 in
  member-layout versions 1-3, and VARIABLE-LENGTH class 9), fill
  value (0x0005), data layout (0x0008 v3: contiguous and chunked),
  filter pipeline (0x000B: deflate and shuffle), attribute (0x000C
  v1: scalar numeric, ASCII string, compound -> dict, and
  variable-length string via the global heap -- the form h5py writes
  every str attribute in), object-header continuation (0x0010),
  symbol table (0x0011);
* chunked data behind the version-1 chunk B-tree (node type 1),
  filters applied per chunk in pipeline order (shuffle then deflate
  on write, inverse on read; LZF -- h5py's filter id 32000 --
  decodes too; SZIP -- filter id 4, the NASA HDF-EOS compressor --
  decodes AND encodes through the clean-room CCSDS 121.0-B-2
  extended-Rice codec in :mod:`.szip`, ``compress="szip"`` on
  write); edge chunks stored padded, clipped on read -- the same
  convention as zarr;
* COMPOUND datasets (NetCDF-4 table-like products) in every layout
  incl. chunked+filtered (shuffle works on whole records), written
  as class-6 v1 messages; variable-length STRING and SEQUENCE
  datasets (stock netCDF-4 string variables) resolved through global
  heap collections -- contiguous/compact layouts, null descriptors
  tolerated, written with an in-file GCOL.

Out of scope (raise ``NotImplementedError`` with a clear message):
scaleoffset filter, filtered/chunked vlen datasets, vlen members
inside compounds, filtered fractal heaps.

Spark plumbing is ``sources/netcdf3.py``'s: a granule directory of
``part-<band>.h5`` files written by one ``applyInPandas`` task each
(through the pluggable ``ChunkPut``), read by the shared granule
reader (``netcdf3.read_granules``: driver-side band-pruned listing,
executors fetch each granule by key and decode it in ``mapInPandas``);
compound tables get their own distributed pair
(:func:`write_hdf5_table` / :func:`read_hdf5_table`).
"""

from __future__ import annotations

import json
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_resampling_spark.sources.netcdf3 import (
    list_granules,
    read_granules,
)
from xcube_resampling_spark.sources.zarr import (
    ChunkPut,
    FsChunkPut,
    fetch_chunks,
)

_SIG = b"\x89HDF\r\n\x1a\n"
# NetCDF-4 granules are conventionally named .nc/.nc4
_GRANULE_SUFFIXES = (".h5", ".nc", ".nc4")
_UNDEF = 0xFFFFFFFFFFFFFFFF


# ------------------------------------------------------------------ #
# writer


class _Buf:
    def __init__(self):
        self.b = bytearray()

    def tell(self):
        return len(self.b)

    def write(self, data: bytes):
        self.b += data

    def pad_to(self, n):
        while len(self.b) % n:
            self.b += b"\x00"

    def patch_u64(self, pos, value):
        self.b[pos:pos + 8] = struct.pack("<Q", value)


def _dt_message(dtype: np.dtype) -> bytes:
    """Datatype message body: fixed-point / IEEE float / fixed string
    / compound (class 6 version 1, the layout stock libhdf5 writes for
    NetCDF-4 table-like products)."""
    dt = np.dtype(dtype)
    if dt.names:  # compound
        props = b""
        for nm in dt.names:
            sub, off = dt.fields[nm][0], dt.fields[nm][1]
            name_b = nm.encode() + b"\x00"
            name_b += b"\x00" * (-len(name_b) % 8)
            # v1 member: padded name, byte offset, dimensionality,
            # 3 reserved, dim permutation, 4 reserved, 4 dim sizes
            props += name_b
            props += struct.pack("<IB3xI4x4I", off, 0, 0, 0, 0, 0, 0)
            props += _dt_message(sub)
        n = len(dt.names)
        return struct.pack(
            "<BBBBI", 0x16, n & 0xFF, (n >> 8) & 0xFF, 0, dt.itemsize
        ) + props
    if dt.kind == "S":
        return _string_dt_message(dt.itemsize)
    le = dt.byteorder in ("<", "=") or (dt.byteorder == "|" and True)
    order_bit = 0 if le else 1
    if dt.kind in ("i", "u"):
        cls_ver = 0x10  # class 0 fixed-point, version 1
        bits0 = order_bit | (0x08 if dt.kind == "i" else 0)
        body = struct.pack(
            "<B3B I HH", cls_ver, bits0, 0, 0, dt.itemsize, 0,
            dt.itemsize * 8,
        )
        return body
    if dt.kind == "f":
        cls_ver = 0x11  # class 1 float, version 1
        if dt.itemsize == 8:
            props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
        elif dt.itemsize == 4:
            props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
        else:
            raise NotImplementedError("float16/float128 not supported")
        # mantissa normalization = 2 (bits 4-5), sign location in byte 1
        bits0 = order_bit | 0x20
        sign_loc = dt.itemsize * 8 - 1
        return struct.pack(
            "<B3B I", cls_ver, bits0, sign_loc, 0, dt.itemsize
        ) + props
    raise NotImplementedError(f"dtype {dt} not supported")


def _string_dt_message(n: int) -> bytes:
    # class 3 string, version 1, null-terminated, ASCII
    return struct.pack("<B3BI", 0x13, 0x00, 0, 0, n)


def _dataspace_msg(shape: tuple[int, ...]) -> bytes:
    body = struct.pack("<BBB5x", 1, len(shape), 0)
    for s in shape:
        body += struct.pack("<Q", s)
    return body


def _scalar_dataspace_msg() -> bytes:
    return struct.pack("<BBB5x", 1, 0, 0)


def _attr_msg(name: str, value) -> bytes:
    """Attribute message (version 1): scalar int/float or ASCII string."""
    nm = name.encode() + b"\x00"
    if isinstance(value, str):
        data = value.encode()
        dt = _string_dt_message(len(data))
        ds = _scalar_dataspace_msg()
    elif isinstance(value, (int, np.integer)):
        data = struct.pack("<q", int(value))
        dt = _dt_message(np.dtype("<i8"))
        ds = _scalar_dataspace_msg()
    elif isinstance(value, (list, tuple)):
        arr = np.asarray(value, dtype="<f8")
        data = arr.tobytes()
        dt = _dt_message(np.dtype("<f8"))
        ds = _dataspace_msg(arr.shape)
    else:
        data = struct.pack("<d", float(value))
        dt = _dt_message(np.dtype("<f8"))
        ds = _scalar_dataspace_msg()

    def pad8(b):
        return b + b"\x00" * (-len(b) % 8)

    body = struct.pack("<BxHHH", 1, len(nm), len(dt), len(ds))
    body += pad8(nm) + pad8(dt) + pad8(ds) + data
    return body


def _lookup3(data: bytes, initval: int = 0) -> int:
    """Bob Jenkins lookup3 ``hashlittle()`` -- the checksum HDF5 uses
    for version-2 metadata (object headers, continuation blocks).
    Public-domain algorithm, lookup3.c; verified against its published
    test vectors in tests."""
    mask = 0xFFFFFFFF

    def rot(x, k):
        return ((x << k) | (x >> (32 - k))) & mask

    a = b = c = (0xDEADBEEF + len(data) + initval) & mask
    i, length = 0, len(data)
    while length > 12:
        a = (a + int.from_bytes(data[i:i + 4], "little")) & mask
        b = (b + int.from_bytes(data[i + 4:i + 8], "little")) & mask
        c = (c + int.from_bytes(data[i + 8:i + 12], "little")) & mask
        a = (a - c) & mask; a ^= rot(c, 4); c = (c + b) & mask
        b = (b - a) & mask; b ^= rot(a, 6); a = (a + c) & mask
        c = (c - b) & mask; c ^= rot(b, 8); b = (b + a) & mask
        a = (a - c) & mask; a ^= rot(c, 16); c = (c + b) & mask
        b = (b - a) & mask; b ^= rot(a, 19); a = (a + c) & mask
        c = (c - b) & mask; c ^= rot(b, 4); b = (b + a) & mask
        i += 12
        length -= 12
    if length > 0:
        tail = data[i:] + b"\x00" * (12 - length)
        a = (a + int.from_bytes(tail[0:4], "little")) & mask
        b = (b + int.from_bytes(tail[4:8], "little")) & mask
        c = (c + int.from_bytes(tail[8:12], "little")) & mask
        c ^= b; c = (c - rot(b, 14)) & mask
        a ^= c; a = (a - rot(c, 11)) & mask
        b ^= a; b = (b - rot(a, 25)) & mask
        c ^= b; c = (c - rot(b, 16)) & mask
        a ^= c; a = (a - rot(c, 4)) & mask
        b ^= a; b = (b - rot(a, 14)) & mask
        c ^= b; c = (c - rot(b, 24)) & mask
    return c


def _messages_block(msgs: list[tuple[int, bytes]]) -> bytes:
    out = bytearray()
    for mtype, body in msgs:
        body = bytes(body)
        pad = -len(body) % 8
        out += struct.pack("<HHB3x", mtype, len(body) + pad, 0)
        out += body + b"\x00" * pad
    return bytes(out)


def _frhp_header(heap_id_len, max_man_obj, free, managed, total_used,
                 n_objs, width, start_size, max_direct, root_addr,
                 cur_rows) -> bytes:
    hdr = bytearray()
    hdr += b"FRHP" + bytes([0])
    hdr += struct.pack("<HH", heap_id_len, 0)   # id len, no io filters
    hdr += bytes([0])                           # flags
    hdr += struct.pack("<I", max_man_obj)       # max managed obj size
    hdr += struct.pack("<Q", 0)                 # next huge object id
    hdr += struct.pack("<Q", _UNDEF)            # huge v2 btree
    hdr += struct.pack("<Q", free)              # free space
    hdr += struct.pack("<Q", _UNDEF)            # free space manager
    hdr += struct.pack("<QQ", managed, managed)  # managed / allocated
    hdr += struct.pack("<Q", total_used)        # iterator offset
    hdr += struct.pack("<Q", n_objs)            # managed object count
    hdr += struct.pack("<QQQQ", 0, 0, 0, 0)     # huge/tiny size+count
    hdr += struct.pack("<H", width)             # table width
    hdr += struct.pack("<QQ", start_size, max_direct)
    hdr += struct.pack("<HH", 32, 1)            # max heap bits, rows
    hdr += struct.pack("<Q", root_addr)         # root block address
    hdr += struct.pack("<H", cur_rows)
    hdr += struct.pack("<I", _lookup3(bytes(hdr)))
    assert len(hdr) == 146
    return bytes(hdr)


def _heap_slots(hp: dict, base: int = 0, nrows: int | None = None):
    """Yield ``(path, base, size)`` for every DIRECT-block slot of a
    doubling table in heap-offset order; ``path`` is the chain of
    (row, col) entries from the root, descending through nested
    indirect slots.  ``nrows=None`` = the unbounded root table."""
    mdr = _heap_max_direct_rows(hp)
    row = 0
    while nrows is None or row < nrows:
        size = _heap_row_size(hp, row)
        for col in range(hp["width"]):
            if row < mdr:
                yield ((row, col),), base, size
            else:
                for sub, sb, ss in _heap_slots(
                        hp, base, _heap_iblock_rows(hp, size)):
                    yield ((row, col),) + sub, sb, ss
            base += size
        row += 1


def _write_dense_links(buf: "_Buf",
                       links: list[tuple[str, int]],
                       node_size: int = 512,
                       heap_start_size: int | None = None,
                       heap_max_direct: int = 64 * 1024,
                       heap_width: int = 4) -> tuple[int, int]:
    """Emit dense group link storage (the ``libver='latest'`` layout
    for link-heavy groups): one fractal heap holding every link
    message body as a managed object, plus the name-index v2 B-tree
    of (lookup3(name), heap-id) records -- grown to as many BTIN
    levels as ``node_size`` forces (:func:`_write_v2_btree`).

    By default the heap is a single root direct block grown to fit
    (compact, the common shape).  Passing ``heap_start_size`` writes a
    REAL doubling table instead -- FHIB indirect blocks, nested once
    the table outgrows ``heap_max_direct`` rows, exactly the
    structure giant libhdf5 heaps have -- which is how the nested
    read path is round-trip tested.  Returns (heap_addr, btree_addr)
    for the Link Info message."""
    bodies = []
    for name, oh_addr in links:
        nm = name.encode()
        bodies.append(
            (nm, struct.pack("<BBB", 1, 0x00, len(nm)) + nm
             + struct.pack("<Q", oh_addr))
        )
    off_size = 4            # max heap size = 32 bits
    length_size = 2
    # length_size must agree with what libhdf5 DERIVES:
    # MIN(bytes(max direct block size), bytes(max managed obj size)).
    # Keeping "maximum size of managed objects" at a fixed 4096 pins
    # the derived width to 2 no matter how far the direct block grows;
    # sizing it to the block (as the heap grows past 64 KiB) would
    # make stock readers expect 3-byte lengths against our stored
    # 7-byte heap ids.
    max_man_obj = 4096
    for nm, b in bodies:
        if len(b) > max_man_obj:
            raise NotImplementedError(
                f"link message for {nm!r} exceeds the managed-object "
                f"limit ({len(b)} > {max_man_obj} bytes)")
    heap_id_len = 1 + off_size + length_size
    db_hdr = 4 + 1 + 8 + off_size  # flags bit1 clear: no block checksum

    if heap_start_size is None:
        # single root direct block, grown to fit
        total = db_hdr + sum(len(b) for _, b in bodies)
        block = 512
        while block < total:
            block *= 2
        frhp_pos = buf.tell()
        db_addr = frhp_pos + 146
        buf.write(_frhp_header(
            heap_id_len, max_man_obj, block - total, block, total,
            len(bodies), 4, block, block, db_addr, 0))
        db = bytearray()
        db += b"FHDB" + bytes([0]) + struct.pack("<Q", frhp_pos)
        db += (0).to_bytes(off_size, "little")  # block heap offset
        heap_ids = []
        for nm, body in bodies:
            heap_ids.append(
                bytes([0]) + len(db).to_bytes(off_size, "little")
                + len(body).to_bytes(length_size, "little")
            )
            db += body
        db += b"\x00" * (block - len(db))
        buf.write(bytes(db))
    else:
        frhp_pos, heap_ids = _write_doubling_heap(
            buf, bodies, heap_id_len, max_man_obj, off_size,
            length_size, heap_start_size, heap_max_direct, heap_width)

    rec_size = 4 + heap_id_len
    recs = sorted(
        (struct.pack("<I", _lookup3(nm)) + hid
         for (nm, _), hid in zip(bodies, heap_ids)),
        key=lambda r: struct.unpack_from("<I", r)[0],
    )
    bthd_pos = _write_v2_btree(buf, recs, rec_size,
                               node_size=node_size)
    return frhp_pos, bthd_pos


def _write_doubling_heap(buf: "_Buf", bodies, heap_id_len: int,
                         max_man_obj: int, off_size: int,
                         length_size: int, start_size: int,
                         max_direct: int, width: int):
    """Write a REAL doubling-table fractal heap: direct blocks sized
    per the row table, FHIB indirect blocks -- NESTED once rows pass
    max_direct_rows, the structure giant libhdf5 heaps have -- and
    the FRHP patched in place once the root address is known.
    Returns ``(frhp_pos, heap_ids)``."""
    if not bodies:
        raise ValueError("doubling heap needs at least one object")
    hp = {"start_size": start_size, "max_direct": max_direct,
          "width": width, "off_size": off_size}
    db_hdr = 4 + 1 + 8 + off_size
    for v, nm in ((start_size, "heap_start_size"),
                  (max_direct, "heap_max_direct")):
        if v <= 0 or v & (v - 1):
            raise ValueError(f"{nm} must be a power of two")
    if max_direct < start_size or start_size <= db_hdr:
        raise ValueError(
            "need heap_max_direct >= heap_start_size > block header")
    frhp_pos = buf.tell()
    buf.write(b"\x00" * 146)  # FRHP placeholder, patched below

    slots = _heap_slots(hp)
    blocks: list[tuple] = []
    heap_ids = []
    used_bytes = 0
    cur = None
    for _nm, body in bodies:
        if len(body) + db_hdr > max_direct:
            raise NotImplementedError(
                "link message larger than the largest direct block")
        while cur is None or len(cur[3]) + len(body) > cur[2]:
            path, base, size = next(slots)
            db = bytearray(b"FHDB") + bytes([0])
            db += struct.pack("<Q", frhp_pos)
            db += base.to_bytes(off_size, "little")
            cur = (path, base, size, db)
            blocks.append(cur)
        heap_ids.append(
            bytes([0])
            + (cur[1] + len(cur[3])).to_bytes(off_size, "little")
            + len(body).to_bytes(length_size, "little"))
        cur[3].extend(body)
        used_bytes += len(body)

    addr_by_path = {}
    for path, base, size, db in blocks:
        addr_by_path[path] = buf.tell()
        buf.write(bytes(db).ljust(size, b"\x00"))

    def block_base_of(parent_base: int, row: int, col: int) -> int:
        b = parent_base
        for r in range(row):
            b += width * _heap_row_size(hp, r)
        return b + col * _heap_row_size(hp, row)

    def write_iblock(prefix: tuple, base: int, nrows: int) -> int:
        entries = {}
        nested = set()
        for path, addr in addr_by_path.items():
            if len(path) <= len(prefix) or path[:len(prefix)] != prefix:
                continue
            head = path[len(prefix)]
            if len(path) == len(prefix) + 1:
                entries[head] = addr
            else:
                nested.add(head)
        for row, col in sorted(nested):
            entries[(row, col)] = write_iblock(
                prefix + ((row, col),),
                block_base_of(base, row, col),
                _heap_iblock_rows(hp, _heap_row_size(hp, row)))
        ib = bytearray(b"FHIB") + bytes([0])
        ib += struct.pack("<Q", frhp_pos)
        ib += base.to_bytes(off_size, "little")
        for r in range(nrows):
            for c in range(width):
                ib += struct.pack("<Q", entries.get((r, c), _UNDEF))
        ib += struct.pack("<I", _lookup3(bytes(ib)))
        pos = buf.tell()
        buf.write(bytes(ib))
        return pos

    cur_rows = max(p[0][0] for p in addr_by_path) + 1
    root_addr = write_iblock((), 0, cur_rows)
    managed = blocks[-1][1] + blocks[-1][2]
    buf.b[frhp_pos:frhp_pos + 146] = _frhp_header(
        heap_id_len, max_man_obj, managed - used_bytes, managed,
        used_bytes, len(bodies), width, start_size, max_direct,
        root_addr, cur_rows)
    return frhp_pos, heap_ids


def _chunk_with_seps(items: list, cap: int):
    """Split ordered items into groups of <= ``cap`` with one
    separator pulled out between consecutive groups (the static
    B-tree build).  ``cap`` must be >= 2 so a trailing single item can
    always fold into the final group arithmetic."""
    groups, seps = [], []
    i, n = 0, len(items)
    while True:
        g = min(cap, n - i)
        if n - (i + g) == 1:  # never leave a dangling separator
            g -= 1
        groups.append(items[i:i + g])
        if i + g >= n:
            break
        seps.append(items[i + g])
        i += g + 1
    return groups, seps


def _write_v2_btree(buf: "_Buf", recs: list[bytes], rec_size: int,
                    node_size: int = 512) -> int:
    """Write a version-2 B-tree (type 5 name index) of ANY depth:
    records split bottom-up into BTLF leaves and BTIN internal levels
    per the spec's capacity/pointer-width recurrence
    (:func:`_v2_btree_sizes`), so multi-level trees round-trip with
    :func:`_v2_btree_records`.  Returns the BTHD address."""
    leaf_max = (node_size - 10) // rec_size
    if leaf_max < 2:
        raise ValueError(
            f"v2 B-tree node size {node_size} too small for two "
            f"{rec_size}-byte records per leaf")

    def write_leaf(leaf_recs):
        pos = buf.tell()
        node = bytearray(b"BTLF" + bytes([0, 5]))
        for r in leaf_recs:
            node += r
        node += struct.pack("<I", _lookup3(bytes(node)))
        buf.write(bytes(node))
        return pos, len(leaf_recs), len(leaf_recs)

    groups, seps = _chunk_with_seps(recs, leaf_max)
    level = [write_leaf(g) for g in groups]  # (addr, nrec, total)
    depth = 0
    while len(level) > 1:
        depth += 1
        max_nrec, cum_tot = _v2_btree_sizes(node_size, rec_size, depth)
        nsz = max(1, (max_nrec[depth - 1].bit_length() + 7) // 8)
        tsz = (max(1, (cum_tot[depth - 1].bit_length() + 7) // 8)
               if depth >= 2 else 0)

        def write_internal(children, node_recs, nsz=nsz, tsz=tsz):
            pos = buf.tell()
            node = bytearray(b"BTIN" + bytes([0, 5]))
            for r in node_recs:
                node += r
            for caddr, cn, ctot in children:
                node += struct.pack("<Q", caddr)
                node += cn.to_bytes(nsz, "little")
                if tsz:
                    node += ctot.to_bytes(tsz, "little")
            node += struct.pack("<I", _lookup3(bytes(node)))
            buf.write(bytes(node))
            total = len(node_recs) + sum(c[2] for c in children)
            return pos, len(node_recs), total

        # a node holds g children and g-1 records; one separator is
        # pulled up between consecutive nodes
        nodes, parent_seps = [], []
        i, n = 0, len(level)
        cap_children = max_nrec[depth] + 1
        while True:
            g = min(cap_children, n - i)
            if n - (i + g) == 1:
                g -= 1
            nodes.append(write_internal(
                level[i:i + g], seps[i:i + g - 1]))
            if i + g >= n:
                break
            parent_seps.append(seps[i + g - 1])
            i += g
        level, seps = nodes, parent_seps
    root_addr, root_nrec, total = level[0]
    bthd_pos = buf.tell()
    bthd = bytearray()
    bthd += b"BTHD" + bytes([0, 5])
    bthd += struct.pack("<IHH", node_size, rec_size, depth)
    bthd += bytes([100, 40])                    # split / merge %
    bthd += struct.pack("<QH", root_addr, root_nrec)
    bthd += struct.pack("<Q", total)            # total records
    bthd += struct.pack("<I", _lookup3(bytes(bthd)))
    buf.write(bytes(bthd))
    return bthd_pos


def _object_header_v1(msgs: list[tuple[int, bytes]]) -> bytes:
    block = _messages_block(msgs)
    return struct.pack("<BxHII4x", 1, len(msgs), 1, len(block)) + block


def _object_header_v2(msgs: list[tuple[int, bytes]]) -> bytes:
    """Version-2 ("OHDR") object header: 1-byte message types, no
    8-byte alignment, lookup3 gateway checksum; chunk-0 size stored in
    4 bytes (flags bits 0-1 = 2), no times / creation order."""
    block = bytearray()
    for mtype, body in msgs:
        if mtype > 0xFF:
            raise ValueError("v2 message type must fit one byte")
        block += struct.pack("<BHB", mtype, len(body), 0)
        block += bytes(body)
    hdr = b"OHDR" + struct.pack("<BB", 2, 0x02)
    hdr += struct.pack("<I", len(block))
    out = hdr + bytes(block)
    return out + struct.pack("<I", _lookup3(out))


def encode_hdf5(
    var_name: str,
    data: np.ndarray,
    dims: tuple[str, ...],
    global_attrs: dict | None = None,
    var_attrs: dict | None = None,
    chunks: tuple[int, ...] | None = None,
    compress: bool = False,
    header_version: int = 1,
    group_style: str = "symbol_table",
) -> bytes:
    """Encode one dataset (plus root/dataset attributes) as an HDF5
    file image: superblock v0, old-style root group, object headers in
    version 1 (default; what stock libhdf5 writes) or version 2
    (``header_version=2``; the libver=latest "OHDR" layout with
    lookup3 gateway checksums).  ``chunks`` switches the layout to
    chunked (v1 chunk B-tree); ``compress=True`` adds shuffle +
    deflate to the chunk pipeline, ``compress="szip"`` the CCSDS 121
    Rice filter (id 4) instead."""
    if header_version not in (1, 2):
        raise ValueError("header_version must be 1 or 2")
    if group_style not in ("symbol_table", "dense", "links"):
        # a typo would otherwise silently fall into the compact
        # link-message else-branch and still round-trip
        raise ValueError(
            f"group_style must be 'symbol_table', 'links' or 'dense', "
            f"got {group_style!r}")
    make_oh = (_object_header_v1 if header_version == 1
               else _object_header_v2)
    data = np.ascontiguousarray(data)
    vlen_strs = None
    vlen_base = None
    if data.dtype == object:
        # variable-length dataset: one global heap collection +
        # contiguous (len, gcol addr, index) descriptors.  str
        # elements -> vlen string; ndarray elements -> vlen sequence
        # of the (common) base dtype
        flat = list(data.reshape(-1))
        if flat and isinstance(flat[0], np.ndarray):
            vlen_base = flat[0].dtype
            vlen_strs = []
            for a in flat:
                a = np.ascontiguousarray(a, dtype=vlen_base)
                vlen_strs.append((a.size, a.tobytes()))
        else:
            vlen_strs = [
                (len(b), b) for b in (
                    ("" if s is None else str(s)).encode("utf-8")
                    for s in flat
                )
            ]
        if compress == "szip":
            raise NotImplementedError(
                "szip cannot filter 16-byte vlen descriptors "
                "(32-bit sample ceiling); use compress=True")
    elif data.dtype.names:
        bad = [
            nm for nm in data.dtype.names
            if data.dtype.fields[nm][0].kind not in "iufS"
        ]
        if bad:
            raise NotImplementedError(
                f"compound members {bad} not numeric/fixed-string")
    elif data.dtype.kind not in "iuf":
        raise NotImplementedError(
            "numeric, compound, or vlen-string datasets only")
    if compress and chunks is None:
        chunks = data.shape
    buf = _Buf()

    # --- superblock v0 (root entry patched at the end)
    buf.write(_SIG)
    buf.write(struct.pack("<BBBBBBBB", 0, 0, 0, 0, 0, 8, 8, 0))
    buf.write(struct.pack("<HHI", 4, 16, 0))
    buf.write(struct.pack("<Q", 0))            # base address
    buf.write(struct.pack("<Q", _UNDEF))       # free-space info
    eof_pos = buf.tell()
    buf.write(struct.pack("<Q", 0))            # end-of-file (patched)
    buf.write(struct.pack("<Q", _UNDEF))       # driver info
    root_entry_pos = buf.tell()
    buf.write(b"\x00" * 40)                    # root sym table entry

    # --- local heap: "" at 0, then the dataset name (symbol-table
    # style only; link-message groups need no heap)
    if group_style == "symbol_table":
        name_b = var_name.encode() + b"\x00"
        heap_data = b"\x00" * 8 + name_b + b"\x00" * (-len(name_b) % 8)
        name_off = 8
        free_off = len(heap_data)
        heap_data += b"\x00" * 16  # free block (size >= 16)
        heap_hdr_pos = buf.tell()
        buf.write(b"HEAP" + struct.pack("<B3x", 0))
        buf.write(struct.pack("<QQQ", len(heap_data), free_off,
                              heap_hdr_pos + 8 + 24))
        buf.write(heap_data)

    # --- dataset payload
    fdata = data
    if vlen_strs is not None:
        if vlen_base is not None:  # class 9 vlen sequence
            dt_msg = struct.pack("<BBBBI", 0x19, 0x00, 0, 0, 16) \
                + _dt_message(vlen_base)
        else:  # class 9 vlen string, base = 1-byte class 3 string
            dt_msg = struct.pack("<BBBBI", 0x19, 0x01, 0, 0, 16) \
                + _string_dt_message(1)
    else:
        dt_msg = _dt_message(data.dtype)
    msgs: list[tuple[int, bytes]] = [
        (0x0001, _dataspace_msg(data.shape)),
        (0x0003, dt_msg),
        # fill value v2: alloc early, never written, undefined
        (0x0005, struct.pack("<BBBB", 2, 1, 0, 0)),
    ]
    chunk_src = None  # array routed through the chunked writer below
    if vlen_strs is not None:
        gcol_pos = buf.tell()
        gbody = b""
        for k, (_n, s) in enumerate(vlen_strs, start=1):
            gbody += struct.pack("<HH4xQ", k, 1, len(s)) + s
            gbody += b"\x00" * (-len(s) % 8)
        gbody += struct.pack("<HH4xQ", 0, 0, 16)  # free-space object
        buf.write(b"GCOL" + struct.pack("<B3xQ", 1, 16 + len(gbody))
                  + gbody)
        desc = b"".join(
            struct.pack("<IQI", n, gcol_pos, k + 1)
            for k, (n, _s) in enumerate(vlen_strs)
        )
        if chunks is None and not compress:
            data_pos = buf.tell()
            buf.write(desc)
            msgs.append((0x0008, struct.pack("<BBQQ", 3, 1, data_pos,
                                             len(desc))))
        else:
            # chunked/filtered DESCRIPTOR stream (what netCDF-4 emits
            # for a string variable with zlib=True); heap stays raw
            chunk_src = np.frombuffer(
                desc, np.dtype("V16")).reshape(data.shape)
            if chunks is None:
                chunks = data.shape
    elif chunks is None:
        data_pos = buf.tell()
        raw = fdata.tobytes()
        buf.write(raw)
        msgs.append((0x0008, struct.pack("<BBQQ", 3, 1, data_pos,
                                         len(raw))))
    else:
        chunk_src = fdata
    if chunk_src is not None:
        if len(chunks) != chunk_src.ndim:
            raise ValueError("chunks rank must match data rank")
        szip_params = None
        if compress:
            def filt(fid, name, cdata):
                nm = name + b"\x00"
                nm += b"\x00" * (-len(nm) % 8)
                body = struct.pack("<HHHH", fid, len(nm), 1,
                                   len(cdata))
                body += nm + b"".join(
                    struct.pack("<I", c) for c in cdata
                )
                if len(cdata) % 2:
                    body += b"\x00" * 4
                return body

            if compress == "szip":
                # filter pipeline v1: szip (4) -- CCSDS 121 Rice,
                # cd_values the same 4 H5Pset_szip stores
                from .szip import (
                    SZ_EC_OPTION_MASK,
                    SZ_LSB_OPTION_MASK,
                    SZ_MSB_OPTION_MASK,
                    SZ_NN_OPTION_MASK,
                    SZ_RAW_OPTION_MASK,
                )

                bits = chunk_src.dtype.itemsize * 8
                if bits > 32:
                    raise NotImplementedError(
                        "szip supports sample widths up to 32 bits; "
                        f"dtype {chunk_src.dtype} is {bits}")
                order_mask = (SZ_MSB_OPTION_MASK
                              if chunk_src.dtype.byteorder == ">"
                              else SZ_LSB_OPTION_MASK)
                opts = (SZ_EC_OPTION_MASK | SZ_NN_OPTION_MASK
                        | SZ_RAW_OPTION_MASK | order_mask)
                ppb = 16
                ppsl = int(min(4096, max(chunks[-1], 2)))
                szip_params = (opts, bits, ppb, ppsl)
                pipe = struct.pack("<BB2x4x", 1, 1) + filt(
                    4, b"szip", list(szip_params))
            else:
                # filter pipeline v1: shuffle (2) then deflate (1)
                pipe = struct.pack("<BB2x4x", 1, 2) + filt(
                    2, b"shuffle", [chunk_src.dtype.itemsize]
                ) + filt(1, b"deflate", [1])
            msgs.append((0x000B, pipe))
        # chunk records
        grid = [range(0, s, c) for s, c in zip(chunk_src.shape, chunks)]
        entries = []
        for origin in np.stack(
            np.meshgrid(*grid, indexing="ij"), axis=-1
        ).reshape(-1, chunk_src.ndim):
            sl = tuple(
                slice(o, min(o + c, s))
                for o, c, s in zip(origin, chunks, chunk_src.shape)
            )
            block = np.zeros(chunks, dtype=chunk_src.dtype)
            view = chunk_src[sl]
            block[tuple(slice(0, v) for v in view.shape)] = view
            raw = block.tobytes()
            if szip_params is not None:
                from .szip import szip_encode

                # the libhdf5 filter framing: 4-byte LE uncompressed
                # byte count, then the szip stream
                raw = struct.pack("<I", len(raw)) + szip_encode(
                    raw, *szip_params)
            elif compress:
                raw = _shuffle_bytes(raw, chunk_src.dtype.itemsize)
                raw = zlib.compress(raw, 1)
            addr = buf.tell()
            buf.write(raw)
            entries.append((tuple(int(o) for o in origin), addr,
                            len(raw)))
        # single leaf v1 chunk B-tree
        bt_pos = buf.tell()
        nd1 = chunk_src.ndim + 1
        node = bytearray()
        node += b"TREE" + struct.pack("<BBH", 1, 0, len(entries))
        node += struct.pack("<QQ", _UNDEF, _UNDEF)
        for origin, addr, nbytes in entries:
            node += struct.pack("<II", nbytes, 0)  # filter mask: none skipped
            for o in origin:
                node += struct.pack("<Q", o)
            node += struct.pack("<Q", 0)  # element-size dim
            node += struct.pack("<Q", addr)
        # final key (one past the last chunk in every dim)
        node += struct.pack("<II", 0, 0)
        for s in chunk_src.shape:
            node += struct.pack("<Q", s)
        node += struct.pack("<Q", chunk_src.dtype.itemsize)
        buf.write(bytes(node))
        layout = struct.pack("<BBBQ", 3, 2, nd1, bt_pos)
        for c in chunks:
            layout += struct.pack("<I", c)
        layout += struct.pack("<I", chunk_src.dtype.itemsize)
        msgs.append((0x0008, layout))
    for k, v in (var_attrs or {}).items():
        msgs.append((0x000C, _attr_msg(k, v)))
    ds_oh_pos = buf.tell()
    buf.write(make_oh(msgs))

    if group_style == "symbol_table":
        # --- SNOD with the one dataset
        snod_pos = buf.tell()
        snod = b"SNOD" + struct.pack("<BBH", 1, 0, 1)
        snod += struct.pack("<QQI4x16x", name_off, ds_oh_pos, 0)
        # symbol table nodes are sized for 2K entries; one entry is
        # fine, readers honor the count
        buf.write(snod)

        # --- group B-tree (v1, node type 0) with one SNOD child
        bt_pos = buf.tell()
        bt = b"TREE" + struct.pack("<BBH", 0, 0, 1)
        bt += struct.pack("<QQ", _UNDEF, _UNDEF)
        bt += struct.pack("<Q", 0)          # key 0: heap offset of ""
        bt += struct.pack("<Q", snod_pos)   # child 0
        bt += struct.pack("<Q", name_off)   # key 1: last name
        buf.write(bt)
        root_msgs = [
            (0x0011, struct.pack("<QQ", bt_pos, heap_hdr_pos))
        ]
        entry_scratch = (bt_pos, heap_hdr_pos, 1)
    elif group_style == "dense":
        # new-style DENSE group: links live in a fractal heap indexed
        # by a name v2 B-tree (what libver='latest' emits once a group
        # exceeds 8 links); Link Info carries both addresses
        heap_addr, bt_addr = _write_dense_links(
            buf, [(var_name, ds_oh_pos)])
        root_msgs = [
            (0x0002, struct.pack("<BBQQ", 0, 0, heap_addr, bt_addr)),
        ]
        entry_scratch = (0, 0, 0)
    else:
        # new-style compact group: Link Info (no fractal heap, no
        # creation-order index) + one hard Link message per dataset
        nm = var_name.encode()
        link = struct.pack("<BBB", 1, 0x00, len(nm)) + nm
        link += struct.pack("<Q", ds_oh_pos)
        root_msgs = [
            (0x0002, struct.pack("<BBQQ", 0, 0, _UNDEF, _UNDEF)),
            (0x0006, link),
        ]
        entry_scratch = (0, 0, 0)

    # --- root group object header
    for k, v in (global_attrs or {}).items():
        root_msgs.append((0x000C, _attr_msg(k, v)))
    root_oh_pos = buf.tell()
    buf.write(make_oh(root_msgs))

    # --- patch superblock
    buf.patch_u64(eof_pos, buf.tell())
    entry = struct.pack(
        "<QQI4xQQ", 0, root_oh_pos, entry_scratch[2],
        entry_scratch[0], entry_scratch[1],
    )
    buf.b[root_entry_pos:root_entry_pos + 40] = entry
    return bytes(buf.b)


def _shuffle_bytes(raw: bytes, itemsize: int) -> bytes:
    if itemsize <= 1:
        return raw
    arr = np.frombuffer(raw, dtype=np.uint8)
    n = len(raw) // itemsize
    return (
        arr[: n * itemsize].reshape(n, itemsize).T.tobytes()
        + raw[n * itemsize:]
    )


def _unshuffle_bytes(raw: bytes, itemsize: int) -> bytes:
    if itemsize <= 1:
        return raw
    arr = np.frombuffer(raw, dtype=np.uint8)
    n = len(raw) // itemsize
    return (
        arr[: n * itemsize].reshape(itemsize, n).T.tobytes()
        + raw[n * itemsize:]
    )


# ------------------------------------------------------------------ #
# reader


def _parse_superblock(blob: bytes) -> int:
    """Return the root object-header address."""
    if blob[:8] != _SIG:
        raise ValueError("not an HDF5 file (bad signature)")
    ver = blob[8]
    if ver == 0:
        if blob[13] != 8 or blob[14] != 8:
            raise NotImplementedError(
                "only 8-byte offsets/lengths supported"
            )
        # root symbol table entry at fixed offset 24+... : sig(8) +
        # versions/sizes(8) + k's+flags(8) + 4 addresses(32) = 56
        (oh_addr,) = struct.unpack_from("<Q", blob, 56 + 8)
        return oh_addr
    if ver in (2, 3):
        if blob[9] != 8 or blob[10] != 8:
            raise NotImplementedError(
                "only 8-byte offsets/lengths supported"
            )
        (oh_addr,) = struct.unpack_from("<Q", blob, 36)
        return oh_addr
    raise NotImplementedError(f"superblock version {ver} not supported")


def _parse_object_header_v2(blob: bytes, pos: int) -> list[tuple[int, bytes]]:
    flags = blob[pos + 5]
    off = pos + 6
    if flags & 0x20:
        off += 16  # access/mod/change/birth times
    if flags & 0x10:
        off += 4   # compact/dense attribute phase bounds
    size_bytes = 1 << (flags & 0x03)
    chunk0 = int.from_bytes(blob[off:off + size_bytes], "little")
    off += size_bytes
    track = bool(flags & 0x04)
    msgs: list[tuple[int, bytes]] = []
    # verify the gateway checksums BEFORE trusting any field: chunk 0's
    # lookup3 covers OHDR signature through end of messages; each OCHK
    # continuation's covers its whole block minus the trailing 4 bytes
    (stored,) = struct.unpack_from("<I", blob, off + chunk0)
    if _lookup3(blob[pos:off + chunk0]) != stored:
        raise ValueError("OHDR checksum mismatch (corrupt header)")
    # (start, message-bytes length); continuation lengths include the
    # OCHK signature and trailing checksum, chunk 0's does not
    blocks = [(off, chunk0)]
    while blocks:
        boff, blen = blocks.pop(0)
        end = boff + blen
        while boff + 4 <= end:
            mtype = blob[boff]
            (msize,) = struct.unpack_from("<H", blob, boff + 1)
            boff2 = boff + 4 + (2 if track else 0)
            body = blob[boff2:boff2 + msize]
            if mtype == 0x10:
                c_off, c_len = struct.unpack_from("<QQ", body, 0)
                if blob[c_off:c_off + 4] != b"OCHK":
                    raise ValueError("bad OCHK continuation signature")
                (cstored,) = struct.unpack_from(
                    "<I", blob, c_off + c_len - 4)
                if _lookup3(blob[c_off:c_off + c_len - 4]) != cstored:
                    raise ValueError(
                        "OCHK checksum mismatch (corrupt continuation)")
                blocks.append((c_off + 4, c_len - 8))
            else:
                msgs.append((mtype, body))
            boff = boff2 + msize
    return msgs


def _parse_object_header(blob: bytes, pos: int) -> list[tuple[int, bytes]]:
    if blob[pos:pos + 4] == b"OHDR":
        if blob[pos + 4] != 2:
            raise NotImplementedError(
                f"OHDR version {blob[pos + 4]} not supported"
            )
        return _parse_object_header_v2(blob, pos)
    ver = blob[pos]
    if ver != 1:
        raise ValueError(f"bad object header at {pos}")
    nmsgs, _refs, hsize = struct.unpack_from("<HII", blob, pos + 2)
    msgs: list[tuple[int, bytes]] = []
    blocks = [(pos + 16, hsize)]
    while blocks and len(msgs) < nmsgs:
        off, remaining = blocks.pop(0)
        while remaining >= 8 and len(msgs) < nmsgs:
            mtype, msize, _flags = struct.unpack_from("<HHB", blob, off)
            body = blob[off + 8: off + 8 + msize]
            if mtype == 0x0010:  # continuation
                c_off, c_len = struct.unpack_from("<QQ", body, 0)
                blocks.append((c_off, c_len))
            else:
                msgs.append((mtype, body))
            off += 8 + msize
            remaining -= 8 + msize
    return msgs


def _parse_dataspace(body: bytes) -> tuple[int, ...]:
    ver = body[0]
    if ver == 1:
        rank, flags = body[1], body[2]
        off = 8
    elif ver == 2:
        rank, flags = body[1], body[2]
        off = 4
    else:
        raise NotImplementedError(f"dataspace version {ver}")
    return tuple(
        struct.unpack_from("<Q", body, off + 8 * i)[0]
        for i in range(rank)
    )


class _Vlen:
    """Marker for a variable-length datatype (class 9): elements in
    the file are 16-byte (length, global-heap address, index)
    descriptors; the payload lives in global heap collections."""

    itemsize = 16

    def __init__(self, kind: str, base):
        self.kind = kind  # 'string' or 'sequence'
        self.base = base

    def __repr__(self):
        return f"_Vlen({self.kind}, {self.base})"


def _parse_dt_at(body: bytes, pos: int):
    """Parse one datatype message at ``pos``; returns
    ``(np.dtype | _Vlen, end_pos)``.  Recursion handles compound
    members (versions 1-3) and vlen base types."""
    b0 = body[pos]
    cls, ver = b0 & 0x0F, b0 >> 4
    bits0, bits1 = body[pos + 1], body[pos + 2]
    (size,) = struct.unpack_from("<I", body, pos + 4)
    endian = ">" if (bits0 & 1) else "<"
    p = pos + 8
    if cls == 0:  # fixed point: props = bit offset + precision
        signed = bool(bits0 & 0x08)
        return np.dtype(
            f"{endian}{'i' if signed else 'u'}{size}"), p + 4
    if cls == 1:  # float: props = offsets/sizes/bias (12 bytes)
        return np.dtype(f"{endian}f{size}"), p + 12
    if cls == 3:  # fixed string: no props
        return np.dtype(f"S{size}"), p
    if cls == 6:  # compound
        n = bits0 | (bits1 << 8)
        names, formats, offsets = [], [], []
        for _ in range(n):
            end = body.index(b"\x00", p)
            name = body[p:end].decode()
            nlen = end - p + 1
            if ver in (1, 2):
                p += nlen + (-nlen % 8)  # padded to 8
                (off,) = struct.unpack_from("<I", body, p)
                p += 4
                if ver == 1:
                    # dimensionality + reserved + permutation +
                    # reserved + 4 dim sizes
                    p += 1 + 3 + 4 + 4 + 16
            elif ver == 3:
                p += nlen  # not padded
                nb = (1 if size < 256 else 2 if size < 65536
                      else 4 if size < 2 ** 32 else 8)
                off = int.from_bytes(body[p:p + nb], "little")
                p += nb
            else:
                raise NotImplementedError(
                    f"compound datatype version {ver}")
            sub, p = _parse_dt_at(body, p)
            if isinstance(sub, _Vlen):
                raise NotImplementedError(
                    "vlen member inside a compound datatype")
            names.append(name)
            formats.append(sub)
            offsets.append(off)
        return np.dtype({
            "names": names, "formats": formats,
            "offsets": offsets, "itemsize": size,
        }), p
    if cls == 9:  # variable-length
        kind = "string" if (bits0 & 0x0F) == 1 else "sequence"
        base, p = _parse_dt_at(body, p)
        return _Vlen(kind, base), p
    raise NotImplementedError(f"datatype class {cls} not supported")


def _parse_datatype(body: bytes):
    return _parse_dt_at(body, 0)[0]


def _global_heap_object(blob: bytes, addr: int, index: int) -> bytes:
    """One object out of a global heap collection (GCOL, spec III.E)
    -- where libhdf5 stores variable-length data, incl. every h5py
    string attribute."""
    if blob[addr:addr + 4] != b"GCOL":
        raise ValueError("bad global heap collection signature")
    (coll_size,) = struct.unpack_from("<Q", blob, addr + 8)
    p = addr + 16
    end = addr + coll_size
    while p + 16 <= end:
        (idx, _refc) = struct.unpack_from("<HH", blob, p)
        (obj_size,) = struct.unpack_from("<Q", blob, p + 8)
        if idx == 0:  # free space terminator
            break
        if idx == index:
            return blob[p + 16:p + 16 + obj_size]
        p += 16 + obj_size + (-obj_size % 8)
    raise ValueError(f"global heap object {index} not found")


def _parse_attribute(body: bytes, blob: bytes = b""):
    ver = body[0]
    if ver not in (1, 2, 3):
        raise NotImplementedError(f"attribute message version {ver}")
    name_sz, dt_sz, ds_sz = struct.unpack_from("<HHH", body, 2)
    if ver >= 2:
        flags = body[1]
        if flags & 0x03:
            # shared datatype/dataspace live behind 8-byte heap IDs
            raise NotImplementedError(
                "attribute with SHARED datatype/dataspace message")

    def pad8(n):
        # v1 pads name/datatype/dataspace to 8; v2/v3 pack them
        return n + (-n % 8) if ver == 1 else n

    off = 8
    if ver == 3:
        off = 9  # one extra byte: name character-set encoding
    name = body[off:off + name_sz].split(b"\x00")[0].decode()
    off += pad8(name_sz)
    dt_body = body[off:off + dt_sz]
    dt_cls = dt_body[0] & 0x0F
    off_dt = off
    off = off_dt + pad8(dt_sz)
    shape = _parse_dataspace(body[off:off + ds_sz])
    off += pad8(ds_sz)
    data = body[off:]
    if dt_cls == 9:  # variable-length
        if (dt_body[1] & 0x0F) != 1:
            raise NotImplementedError(
                "vlen attribute of non-string base type not supported")
        # each element: length(4) + global heap address(8) + index(4)
        n = int(np.prod(shape)) if shape else 1
        vals = []
        for k in range(n):
            ln, gaddr, gidx = struct.unpack_from("<IQI", data, k * 16)
            raw = _global_heap_object(blob, gaddr, gidx)[:ln]
            vals.append(raw.decode("utf-8", errors="replace"))
        return name, (vals if shape else vals[0])
    dt = _parse_datatype(dt_body)
    if dt.names:  # compound attribute -> dict per element
        n = int(np.prod(shape)) if shape else 1
        arr = np.frombuffer(data, dtype=dt, count=n)

        def conv(rec):
            out = {}
            for nm in dt.names:
                sub = dt.fields[nm][0]
                v = rec[nm]
                if sub.kind in "iu":
                    out[nm] = int(v)
                elif sub.kind == "f":
                    out[nm] = float(v)
                else:
                    out[nm] = bytes(v).split(b"\x00")[0].decode()
            return out

        return name, ([conv(r) for r in arr] if shape else conv(arr[0]))
    if dt.kind == "S":
        return name, data[: dt.itemsize].split(b"\x00")[0].decode()
    n = int(np.prod(shape)) if shape else 1
    arr = np.frombuffer(data, dtype=dt, count=n)
    if not shape:
        v = arr[0]
        return name, (int(v) if dt.kind in "iu" else float(v))
    return name, [
        int(v) if dt.kind in "iu" else float(v) for v in arr
    ]


def _parse_link_message(body: bytes) -> tuple[str, int] | None:
    """Link message (0x0006): returns (name, OH address) for hard
    links, None for soft/external links (skipped with a warning-free
    pass -- datasets are always hard-linked)."""
    ver, flags = body[0], body[1]
    if ver != 1:
        raise NotImplementedError(f"link message version {ver}")
    off = 2
    ltype = 0
    if flags & 0x08:
        ltype = body[off]
        off += 1
    if flags & 0x04:
        off += 8  # creation order
    if flags & 0x10:
        off += 1  # charset
    nlen_size = 1 << (flags & 0x03)
    nlen = int.from_bytes(body[off:off + nlen_size], "little")
    off += nlen_size
    name = body[off:off + nlen].decode()
    off += nlen
    if ltype != 0:
        return None  # soft/external/user link
    (oh_addr,) = struct.unpack_from("<Q", body, off)
    return name, oh_addr


def _parse_fractal_heap(blob: bytes, addr: int) -> dict:
    """Fractal heap header (FRHP, HDF5 spec III.G) -> the parameters
    needed to locate managed objects.  Only unfiltered heaps (the kind
    libhdf5 uses for dense link storage) are supported."""
    if blob[addr:addr + 4] != b"FRHP":
        raise ValueError("bad fractal heap signature")
    heap_id_len, filt_len = struct.unpack_from("<HH", blob, addr + 5)
    if filt_len:
        raise NotImplementedError("filtered fractal heaps not supported")
    flags = blob[addr + 9]
    # skip: max managed obj size(4), next huge id(8), huge v2 btree(8),
    # then ten 8-byte bookkeeping fields (free space .. tiny count)
    off = addr + 10 + 4 + 8 + 8 + 80
    (width,) = struct.unpack_from("<H", blob, off)
    start_size, max_direct = struct.unpack_from("<QQ", blob, off + 2)
    max_heap_bits, _start_rows = struct.unpack_from(
        "<HH", blob, off + 18)
    (root_addr,) = struct.unpack_from("<Q", blob, off + 22)
    (cur_rows,) = struct.unpack_from("<H", blob, off + 30)
    return {
        "heap_id_len": heap_id_len,
        "flags": flags,
        "width": width,
        "start_size": start_size,
        "max_direct": max_direct,
        "off_size": (max_heap_bits + 7) // 8,
        "root_addr": root_addr,
        "cur_rows": cur_rows,
    }


def _heap_row_size(hp: dict, row: int) -> int:
    """Doubling-table block size of ``row`` (rows 0 and 1 use the
    starting size, each further row doubles)."""
    return hp["start_size"] if row <= 1 else hp["start_size"] << (row - 1)


def _heap_max_direct_rows(hp: dict) -> int:
    return (hp["max_direct"] // hp["start_size"]).bit_length() + 1


def _heap_iblock_rows(hp: dict, size: int) -> int:
    """Rows of an indirect block covering ``size`` bytes (H5HF
    size-to-rows: log2(size) - log2(start_size * width) + 1)."""
    return (size.bit_length()
            - (hp["start_size"] * hp["width"]).bit_length() + 1)


def _heap_locate(blob: bytes, hp: dict, obj_off: int):
    """Descend the doubling table from the root indirect block --
    through NESTED indirect blocks (the shape heaps grow into past
    width * (2*start + ... + max_direct) bytes of link messages) --
    to the direct block holding ``obj_off``.  Returns
    ``(direct_block_addr, block_base)``."""
    max_direct_rows = _heap_max_direct_rows(hp)
    ib, ib_base, nrows = hp["root_addr"], 0, hp["cur_rows"]
    while True:
        if blob[ib:ib + 4] != b"FHIB":
            raise ValueError("bad fractal heap indirect block")
        rel = obj_off - ib_base
        row, base = 0, 0
        while row < nrows:
            size = _heap_row_size(hp, row)
            span = hp["width"] * size
            if rel < base + span:
                col = (rel - base) // size
                block_base = ib_base + base + col * size
                break
            base += span
            row += 1
        else:
            raise ValueError(
                "fractal heap offset beyond indirect block coverage")
        ptr0 = ib + 4 + 1 + 8 + hp["off_size"]
        idx = row * hp["width"] + col
        (child,) = struct.unpack_from("<Q", blob, ptr0 + 8 * idx)
        if child in (0, _UNDEF):
            raise ValueError("fractal heap object in an absent block")
        if row < max_direct_rows:
            return child, block_base
        ib, ib_base = child, block_base
        nrows = _heap_iblock_rows(hp, size)


def _heap_object(blob: bytes, hp: dict, heap_id: bytes) -> bytes:
    """Fetch one managed object's bytes by its heap ID (version/type
    byte + heap offset + length; heap offsets INCLUDE direct-block
    headers, so a single-direct-block heap is a flat address space)."""
    b0 = heap_id[0]
    if (b0 >> 6) & 0x3 or (b0 >> 4) & 0x3:
        raise NotImplementedError(
            "only managed fractal-heap objects supported")
    off_size = hp["off_size"]
    length_size = hp["heap_id_len"] - 1 - off_size
    obj_off = int.from_bytes(heap_id[1:1 + off_size], "little")
    obj_len = int.from_bytes(
        heap_id[1 + off_size:1 + off_size + length_size], "little")
    if hp["cur_rows"] == 0:
        db_addr, block_base = hp["root_addr"], 0
    else:
        db_addr, block_base = _heap_locate(blob, hp, obj_off)
    if blob[db_addr:db_addr + 4] != b"FHDB":
        raise ValueError("bad fractal heap direct block")
    start = db_addr + (obj_off - block_base)
    return blob[start:start + obj_len]


def _v2_btree_sizes(node_size: int, rec_size: int, depth: int):
    """Per-depth node capacities and cumulative subtree maxima (HDF5
    spec III.A.2 / H5B2): these derive the stored widths of a child
    pointer's record-count and subtree-total fields, so reader and
    writer must compute them identically."""
    leaf_max = (node_size - 10) // rec_size
    if leaf_max < 1:
        raise ValueError(
            f"v2 B-tree node size {node_size} cannot hold one "
            f"{rec_size}-byte record")
    max_nrec = [leaf_max]
    cum_tot = [leaf_max]
    for d in range(1, depth + 1):
        nsz = max(1, (max_nrec[d - 1].bit_length() + 7) // 8)
        tsz = (max(1, (cum_tot[d - 1].bit_length() + 7) // 8)
               if d >= 2 else 0)
        ptr = 8 + nsz + tsz
        cap = (node_size - 10 - ptr) // (rec_size + ptr)
        if cap < 1:
            raise ValueError(
                f"v2 B-tree node size {node_size} cannot hold an "
                f"internal node at depth {d}")
        max_nrec.append(cap)
        cum_tot.append(cum_tot[d - 1] * (cap + 1) + cap)
    return max_nrec, cum_tot


def _v2_btree_records(blob: bytes, addr: int) -> list[bytes]:
    """Enumerate every record of a version-2 B-tree (BTHD/BTIN/BTLF,
    HDF5 spec III.A.2) at ANY depth -- dense-group name indices of
    real granules grow internal levels past a few thousand links."""
    if blob[addr:addr + 4] != b"BTHD":
        raise ValueError("bad v2 B-tree signature")
    (node_size,) = struct.unpack_from("<I", blob, addr + 6)
    (rec_size,) = struct.unpack_from("<H", blob, addr + 10)
    (depth,) = struct.unpack_from("<H", blob, addr + 12)
    (root_addr,) = struct.unpack_from("<Q", blob, addr + 16)
    (root_nrec,) = struct.unpack_from("<H", blob, addr + 24)
    max_nrec, cum_tot = _v2_btree_sizes(node_size, rec_size, depth)
    recs: list[bytes] = []

    def read_node(a: int, n: int, d: int) -> None:
        if d == 0:
            if blob[a:a + 4] != b"BTLF":
                raise ValueError("bad v2 B-tree leaf")
            p = a + 6
            for _ in range(n):
                recs.append(blob[p:p + rec_size])
                p += rec_size
            return
        if blob[a:a + 4] != b"BTIN":
            raise ValueError("bad v2 B-tree internal node")
        p = a + 6
        node_recs = []
        for _ in range(n):
            node_recs.append(blob[p:p + rec_size])
            p += rec_size
        # child pointer: address(8) + record count (sized for the
        # child's max) + subtree total (only when children are
        # themselves internal, i.e. this node's depth >= 2)
        nsz = max(1, (max_nrec[d - 1].bit_length() + 7) // 8)
        tsz = (max(1, (cum_tot[d - 1].bit_length() + 7) // 8)
               if d >= 2 else 0)
        children = []
        for _ in range(n + 1):
            (caddr,) = struct.unpack_from("<Q", blob, p)
            p += 8
            cn = int.from_bytes(blob[p:p + nsz], "little")
            p += nsz + tsz
            children.append((caddr, cn))
        for k, (caddr, cn) in enumerate(children):
            read_node(caddr, cn, d - 1)
            if k < len(node_recs):
                recs.append(node_recs[k])

    read_node(root_addr, root_nrec, depth)
    return recs


def _parse_dense_links(blob: bytes, heap_addr: int,
                       bt_addr: int) -> dict[str, int]:
    """Dense (fractal-heap) group link storage: enumerate the name-index
    v2 B-tree (record = 4-byte name hash + fractal heap ID), fetch each
    link message body from the heap, parse it like a compact 0x0006
    message.  This is what ``libver='latest'`` netCDF-4/h5py emit for
    groups with more than 8 links."""
    hp = _parse_fractal_heap(blob, heap_addr)
    out: dict[str, int] = {}
    for rec in _v2_btree_records(blob, bt_addr):
        body = _heap_object(blob, hp, rec[4:])
        link = _parse_link_message(body)
        if link is not None:
            out[link[0]] = link[1]
    return out


def _walk_group(blob: bytes, msgs) -> dict[str, int]:
    """name -> object header address: old-style symbol-table groups
    (0x0011), new-style compact link-message groups (0x0006), and
    dense fractal-heap link storage via the Link Info message
    (0x0002)."""
    out: dict[str, int] = {}
    for mtype, body in msgs:
        if mtype == 0x0002:
            # Link Info: version(1), flags(1), [max creation index(8)],
            # fractal heap addr, name-index b-tree addr
            off = 2 + (8 if body[1] & 0x01 else 0)
            heap_addr, bt_addr = struct.unpack_from("<QQ", body, off)
            if heap_addr != _UNDEF:
                out.update(_parse_dense_links(blob, heap_addr, bt_addr))
            continue
        if mtype == 0x0006:
            link = _parse_link_message(body)
            if link is not None:
                out[link[0]] = link[1]
            continue
        if mtype != 0x0011:
            continue
        bt_addr, heap_addr = struct.unpack_from("<QQ", body, 0)
        heap_data_addr = struct.unpack_from("<Q", blob, heap_addr + 24)[0]

        def walk_btree(addr):
            if blob[addr:addr + 4] != b"TREE":
                raise ValueError("bad group B-tree node")
            _ntype, level, nused = struct.unpack_from(
                "<BBH", blob, addr + 4
            )
            off = addr + 8 + 16  # skip siblings
            children = []
            for _ in range(nused):
                off += 8  # key
                (child,) = struct.unpack_from("<Q", blob, off)
                children.append(child)
                off += 8
            for child in children:
                if level > 0:
                    walk_btree(child)
                else:
                    read_snod(child)

        def read_snod(addr):
            if blob[addr:addr + 4] != b"SNOD":
                raise ValueError("bad symbol table node")
            (nsyms,) = struct.unpack_from("<H", blob, addr + 6)
            off = addr + 8
            for _ in range(nsyms):
                name_off, oh_addr = struct.unpack_from("<QQ", blob, off)
                name = blob[
                    heap_data_addr + name_off:
                    heap_data_addr + name_off + 256
                ].split(b"\x00")[0].decode()
                out[name] = oh_addr
                off += 40

        walk_btree(bt_addr)
    return out


def _parse_filters(body: bytes) -> list[tuple[int, list[int], int]]:
    # version 1: version(1), nfilters(1), 6 reserved; version 2:
    # version(1), nfilters(1), no reserved.  Each entry: id(2), then --
    # v1 always, v2 ONLY for ids >= 256 -- name length(2), then
    # flags(2), nvals(2), name (v1: padded to 8), client data.  The
    # optional-flag bit (flags & 1) pairs with the per-chunk filter
    # mask in the chunk B-tree keys.
    ver = body[0]
    filters: list[tuple[int, list[int], int]] = []
    nfilters = body[1]
    off = 8 if ver == 1 else 2
    for _ in range(nfilters):
        (fid,) = struct.unpack_from("<H", body, off)
        off += 2
        if ver == 1 or fid >= 256:
            (name_len,) = struct.unpack_from("<H", body, off)
            off += 2
        else:
            name_len = 0
        flags, nvals = struct.unpack_from("<HH", body, off)
        off += 4
        off += name_len + (-name_len % 8 if ver == 1 else 0)
        cdata = [
            struct.unpack_from("<I", body, off + 4 * i)[0]
            for i in range(nvals)
        ]
        off += 4 * nvals
        if ver == 1 and nvals % 2:
            off += 4
        filters.append((fid, cdata, flags))
    return filters


def _lzf_decompress(raw: bytes) -> bytes:
    """LZF decompression (Marc Lehmann's LibLZF stream format, the
    algorithm h5py's lzf filter -- HDF5 filter id 32000 -- applies per
    chunk): a sequence of control bytes; ctrl < 0x20 is a literal run
    of ctrl+1 bytes, otherwise a back-reference of length (ctrl >> 5)
    + 2 (+ an extension byte when the 3-bit length field saturates at
    7) at offset ((ctrl & 0x1f) << 8 | next) + 1."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        ctrl = raw[i]
        i += 1
        if ctrl < 0x20:
            run = ctrl + 1
            if i + run > n:
                raise ValueError("corrupt LZF stream (truncated run)")
            out += raw[i:i + run]
            i += run
        else:
            length = ctrl >> 5
            if length == 7:
                if i >= n:
                    raise ValueError(
                        "corrupt LZF stream (truncated length)")
                length += raw[i]
                i += 1
            length += 2
            if i >= n:
                raise ValueError("corrupt LZF stream (truncated ref)")
            ref = len(out) - (((ctrl & 0x1F) << 8) | raw[i]) - 1
            i += 1
            if ref < 0:
                raise ValueError("corrupt LZF stream (bad offset)")
            if ref + length <= len(out):
                # non-overlapping: one slice copy (shuffled float data
                # is almost all back-references -- a per-byte Python
                # loop here made every chunk O(n) interpreter ops)
                out += out[ref:ref + length]
            else:
                for _ in range(length):  # overlapping copy
                    out.append(out[ref])
                    ref += 1
    return bytes(out)


def _apply_filters_inverse(
    raw: bytes, filters, itemsize: int, mask: int = 0,
    n_elements: int | None = None,
) -> bytes:
    """Invert the pipeline; bit k of ``mask`` (from the chunk B-tree
    key) set means filter k was SKIPPED for this chunk (an optional
    filter that failed at write time, e.g. deflate that grew).
    ``n_elements`` (the chunk's element count) is required by szip,
    whose stream doesn't carry its own length."""
    for k in range(len(filters) - 1, -1, -1):
        fid, cdata, _flags = filters[k]
        if mask & (1 << k):
            continue
        if fid == 1:
            raw = zlib.decompress(raw)
        elif fid == 2:
            raw = _unshuffle_bytes(
                raw, cdata[0] if cdata else itemsize
            )
        elif fid == 4:
            from .szip import szip_decode

            if len(cdata) < 4:
                raise ValueError(
                    "szip filter needs 4 client-data values, got "
                    f"{list(cdata)}")
            if n_elements is None:
                raise ValueError(
                    "szip chunk decode needs the element count")
            # libhdf5's H5Z__filter_szip frames the stream with a
            # 4-byte little-endian uncompressed byte count -- strip
            # it (and sanity-check it) before the codec sees bits
            if len(raw) < 4:
                raise ValueError("szip chunk shorter than its header")
            (nbytes_orig,) = struct.unpack_from("<I", raw, 0)
            raw = szip_decode(
                raw[4:], n_elements, cdata[0], cdata[1], cdata[2],
                cdata[3])
            if nbytes_orig and len(raw) != nbytes_orig:
                raise ValueError(
                    f"szip chunk decoded to {len(raw)} bytes, header "
                    f"declared {nbytes_orig}")
        elif fid == 32000:
            raw = _lzf_decompress(raw)
        else:
            raise NotImplementedError(
                f"HDF5 filter id {fid} not supported (deflate/shuffle/"
                "szip/lzf only)"
            )
    return raw


def _read_vlen_dataset(blob, layout, shape, dtype: "_Vlen", filters):
    """Variable-length dataset (class 9): read the 16-byte descriptor
    records, then resolve each element from its global heap
    collection.  Strings decode to ``str``; sequences to numpy arrays
    of the base type.  Contiguous, compact, and chunked layouts --
    chunked+filtered is what netCDF-4 emits for a string variable
    with ``zlib=True`` (only the DESCRIPTOR stream is filtered; heap
    objects stay raw)."""
    if layout[0] != 3:
        raise NotImplementedError(
            f"layout message version {layout[0]} not supported")
    lclass = layout[1]
    n = int(np.prod(shape)) if shape else 1
    out = np.empty(n, dtype=object)
    if lclass == 1:
        if filters:
            raise NotImplementedError(
                "filtered contiguous vlen datasets")
        addr, size = struct.unpack_from("<QQ", layout, 2)
        if addr == _UNDEF:
            raw = b""
        else:
            raw = blob[addr:addr + size]
    elif lclass == 0:
        if filters:
            raise NotImplementedError("filtered compact vlen datasets")
        (size,) = struct.unpack_from("<H", layout, 2)
        raw = layout[4:4 + size]
    elif lclass == 2:  # chunked descriptor stream
        nd1 = layout[2]
        (bt_addr,) = struct.unpack_from("<Q", layout, 3)
        chunks = tuple(
            struct.unpack_from("<I", layout, 11 + 4 * i)[0]
            for i in range(nd1 - 1)
        )
        if bt_addr == _UNDEF:
            raw = b""
        else:
            # each element is one 16-byte descriptor: read the chunk
            # grid as opaque 16-byte records (shuffle cdata says 16,
            # so unshuffle works on whole descriptors)
            desc_arr = _read_chunked(
                blob, bt_addr, shape if shape else (1,),
                chunks, np.dtype("V16"), filters,
            )
            raw = desc_arr.tobytes()
    else:
        raise NotImplementedError(
            "vlen datasets: contiguous/compact/chunked layouts only")
    if not raw:
        out[:] = "" if dtype.kind == "string" else None
        return out.reshape(shape)
    desc = np.frombuffer(
        raw, dtype=np.dtype(
            [("len", "<u4"), ("addr", "<u8"), ("idx", "<u4")]),
        count=n)
    for k in range(n):
        ln = int(desc["len"][k])
        addr, idx = int(desc["addr"][k]), int(desc["idx"][k])
        if idx == 0 or addr in (0, _UNDEF):
            # null descriptor (libhdf5's empty/never-written element)
            ob = b""
            ln = 0
        else:
            ob = _global_heap_object(blob, addr, idx)
        if dtype.kind == "string":
            out[k] = ob[:ln].decode("utf-8", errors="replace")
        else:
            out[k] = np.frombuffer(ob, dtype=dtype.base, count=ln)
    return out.reshape(shape)


def _read_chunked(blob, bt_addr, shape, chunks, dtype, filters,
                  fill=None):
    arr = np.full(shape, fill, dtype=dtype) if fill is not None \
        else np.zeros(shape, dtype=dtype)
    nd = len(shape)

    def walk(addr):
        if blob[addr:addr + 4] != b"TREE":
            raise ValueError("bad chunk B-tree node")
        ntype, level, nused = struct.unpack_from("<BBH", blob, addr + 4)
        off = addr + 8 + 16
        for _ in range(nused):
            nbytes, mask = struct.unpack_from("<II", blob, off)
            off += 8
            origin = [
                struct.unpack_from("<Q", blob, off + 8 * i)[0]
                for i in range(nd)
            ]
            off += 8 * (nd + 1)  # + element-size dimension
            (child,) = struct.unpack_from("<Q", blob, off)
            off += 8
            if level > 0:
                walk(child)
                continue
            raw = blob[child:child + nbytes]
            raw = _apply_filters_inverse(
                raw, filters, dtype.itemsize, mask,
                n_elements=int(np.prod(chunks)))
            block = np.frombuffer(raw, dtype=dtype).reshape(chunks)
            sl = tuple(
                slice(o, min(o + c, s))
                for o, c, s in zip(origin, chunks, shape)
            )
            arr[sl] = block[
                tuple(slice(0, s.stop - s.start) for s in sl)
            ]

    walk(bt_addr)
    return arr


def _parse_fill_value(body: bytes, dtype: np.dtype):
    """Fill Value message (0x0005), versions 1-3.  Returns the typed
    fill value, or None when the message declares none (HDF5's default
    fill is then all-zero bytes)."""
    ver = body[0]
    if ver in (1, 2):
        defined = body[3]
        if ver == 1 or defined:
            (size,) = struct.unpack_from("<I", body, 4)
            if size == dtype.itemsize:
                return np.frombuffer(body[8:8 + size], dtype=dtype)[0]
        return None
    if ver == 3:
        flags = body[1]
        if flags & 0x20:  # fill value defined
            (size,) = struct.unpack_from("<I", body, 2)
            if size == dtype.itemsize:
                return np.frombuffer(body[6:6 + size], dtype=dtype)[0]
        return None
    return None


def decode_hdf5(blob: bytes) -> dict:
    """Parse an HDF5 file image into
    ``{"attrs": {...}, "vars": {name: {"data", "attrs", "dims"}}}``
    (the same shape ``decode_netcdf3`` returns)."""
    root_oh = _parse_superblock(blob)
    root_msgs = _parse_object_header(blob, root_oh)
    g_attrs = dict(
        _parse_attribute(b, blob) for t, b in root_msgs if t == 0x000C
    )
    out_vars: dict[str, dict] = {}
    for name, oh_addr in _walk_group(blob, root_msgs).items():
        msgs = _parse_object_header(blob, oh_addr)
        by_type: dict[int, list[bytes]] = {}
        for t, b in msgs:
            by_type.setdefault(t, []).append(b)
        if 0x0008 not in by_type:
            continue  # a sub-group or datatype object, not a dataset
        shape = _parse_dataspace(by_type[0x0001][0])
        dtype = _parse_datatype(by_type[0x0003][0])
        filters = (
            _parse_filters(by_type[0x000B][0])
            if 0x000B in by_type else []
        )
        if isinstance(dtype, _Vlen):
            out_vars[name] = {
                "data": _read_vlen_dataset(
                    blob, by_type[0x0008][0], shape, dtype, filters),
                "attrs": dict(
                    _parse_attribute(b, blob)
                    for t, b in msgs if t == 0x000C),
                "dims": None,
            }
            continue
        fill = None
        if 0x0005 in by_type:
            fill = _parse_fill_value(by_type[0x0005][0], dtype)
        layout = by_type[0x0008][0]
        if layout[0] != 3:
            raise NotImplementedError(
                f"layout message version {layout[0]} not supported"
            )
        lclass = layout[1]
        if lclass == 1:  # contiguous
            addr, size = struct.unpack_from("<QQ", layout, 2)
            if addr == _UNDEF:
                # dataset allocated but never written: all-fill
                data = (np.full(shape, fill, dtype=dtype)
                        if fill is not None
                        else np.zeros(shape, dtype=dtype))
            else:
                data = np.frombuffer(
                    blob[addr:addr + size], dtype=dtype
                ).reshape(shape)
        elif lclass == 2:  # chunked
            nd1 = layout[2]
            (bt_addr,) = struct.unpack_from("<Q", layout, 3)
            chunks = tuple(
                struct.unpack_from("<I", layout, 11 + 4 * i)[0]
                for i in range(nd1 - 1)
            )
            if bt_addr == _UNDEF:
                data = (np.full(shape, fill, dtype=dtype)
                        if fill is not None
                        else np.zeros(shape, dtype=dtype))
            else:
                data = _read_chunked(
                    blob, bt_addr, shape, chunks, dtype, filters,
                    fill=fill,
                )
        elif lclass == 0:  # compact
            (size,) = struct.unpack_from("<H", layout, 2)
            data = np.frombuffer(
                layout[4:4 + size], dtype=dtype
            ).reshape(shape)
        else:
            raise NotImplementedError(f"layout class {lclass}")
        v_attrs = dict(
            _parse_attribute(b, blob) for t, b in msgs if t == 0x000C
        )
        out_vars[name] = {
            "data": data, "attrs": v_attrs, "dims": None,
        }
    return {"attrs": g_attrs, "vars": out_vars}


# ------------------------------------------------------------------ #
# Spark source/sink (mirrors sources/netcdf3.py)


def write_hdf5(
    df: DataFrame,
    path: str,
    var_name: str,
    shape: tuple[int, ...],
    band_rows: int = 256,
    fill_value: float = float("nan"),
    compress: bool = True,
    attrs: dict | None = None,
    chunk_put: ChunkPut | None = None,
    header_version: int = 1,
    group_style: str = "symbol_table",
    dtype: str = "<f8",
) -> None:
    """Write a (t, j, i, value) pixel DataFrame as a granule directory
    of HDF5 files (one horizontal band of ``band_rows`` rows per file,
    one ``applyInPandas`` task per band, all bytes through
    ``chunk_put``).  ``header_version=2`` + ``group_style='dense'``
    emits the libver=latest layout (OHDR headers, fractal-heap link
    storage).  ``dtype`` is the stored element type (values are cast;
    integer dtypes need an integer-representable ``fill_value``, and
    ``compress="szip"`` needs a <= 32-bit one)."""
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
    keyed = src.select(
        (F.col("j") / band_rows).cast("int").alias("band"),
        "t", "j", "i", "value",
    )
    out_schema = T.StructType([T.StructField("file", T.StringType(),
                                             False)])
    g_attrs = dict(attrs or {})

    def write_band(key, pdf):
        band = int(key[0])
        j0 = band * band_rows
        rows = min(band_rows, h - j0)
        dt = np.dtype(dtype)
        block = np.full(
            (nt, rows, w),
            dt.type(fill) if dt.kind in "iu" else fill, dtype=dt)
        tt = pdf["t"].to_numpy(np.int64)
        jj = pdf["j"].to_numpy(np.int64) - j0
        ii = pdf["i"].to_numpy(np.int64)
        block[tt, jj, ii] = pdf["value"].to_numpy(np.float64).astype(dt)
        dims = ("t", "y", "x") if nd == 3 else ("y", "x")
        data = block if nd == 3 else block[0]
        blob = encode_hdf5(
            var_name, data, dims,
            global_attrs={"j_offset": j0, **g_attrs},
            compress=compress,
            header_version=header_version,
            group_style=group_style,
        )
        fname = f"part-{band}.h5"
        put.put(fname, blob)
        return pd.DataFrame({"file": [fname]})

    keyed.groupBy("band").applyInPandas(write_band, out_schema).count()
    put.put(
        "_meta.json",
        json.dumps(
            {"var": var_name, "shape": list(shape),
             "band_rows": band_rows}
        ).encode(),
    )


def read_hdf5(
    spark: SparkSession,
    path: str,
    var_name: str,
    bbox_ij: tuple[int, int, int, int] | None = None,
    decode_cf: bool = False,
) -> DataFrame:
    """Read an .h5 file or granule directory as (t, j, i, value) rows.

    Same contract and the same granule reader as ``read_netcdf3``
    (``netcdf3.read_granules``): the driver lists the ``.h5`` /
    ``.nc`` / ``.nc4`` granules, band-pruned under ``bbox_ij`` when a
    ``_meta.json`` manifest is present, and executors fetch and decode
    them by key; ``decode_cf`` applies _FillValue/missing_value -> NaN
    then scale_factor/add_offset from the dataset's attributes."""
    return read_granules(spark, path, var_name, bbox_ij, decode_cf,
                         decode_hdf5, _GRANULE_SUFFIXES)


# ------------------------------------------------------------------ #
# compound "table" datasets (NetCDF-4 table-like products)

_TABLE_SPARK_TYPES = {
    "i1": T.IntegerType(), "i2": T.IntegerType(),
    "i4": T.IntegerType(), "i8": T.LongType(),
    "u1": T.IntegerType(), "u2": T.IntegerType(), "u4": T.LongType(),
    "f4": T.FloatType(), "f8": T.DoubleType(),
}


def _table_spark_field(name: str, dt: str) -> T.StructField:
    d = np.dtype(dt)
    if d.kind == "S":
        return T.StructField(name, T.StringType(), False)
    key = f"{d.kind}{d.itemsize}"
    if key not in _TABLE_SPARK_TYPES:
        raise NotImplementedError(f"table member dtype {dt}")
    return T.StructField(name, _TABLE_SPARK_TYPES[key], False)


def write_hdf5_table(
    df: DataFrame,
    path: str,
    key_col: str,
    columns: dict[str, str],
    var_name: str = "table",
    rows_per_file: int = 65536,
    chunk_put: ChunkPut | None = None,
    attrs: dict | None = None,
    compress: bool = False,
    header_version: int = 1,
    group_style: str = "symbol_table",
) -> None:
    """Write row data as a granule directory of 1-D COMPOUND datasets
    -- the NetCDF-4 "table-like product" shape (one record per row,
    members from ``columns``: name -> numpy dtype string, fixed
    strings as ``'S<n>'``).

    Files shard by ``key_col // rows_per_file`` (one ``applyInPandas``
    task per shard, rows sorted by key within the file, all bytes
    through ``chunk_put``) -- the same scale shape as
    :func:`write_hdf5`: at 100 TB this is a single hash shuffle into
    bounded ~record-count files, no driver materialization."""
    put = chunk_put if chunk_put is not None else FsChunkPut(path)
    cols = dict(columns)
    if key_col not in cols:
        raise ValueError("key_col must be one of the table columns")
    rec_dtype = np.dtype([(c, cols[c]) for c in cols])
    out_schema = T.StructType(
        [T.StructField("file", T.StringType(), False)])
    g_attrs = dict(attrs or {})

    def write_shard(key, pdf):
        pdf = pdf.sort_values(key_col)
        rec = np.zeros(len(pdf), dtype=rec_dtype)
        for c in cols:
            d = np.dtype(cols[c])
            if d.kind == "S":
                rec[c] = (
                    pdf[c].astype(str).str.encode("utf-8").to_numpy()
                )
            else:
                rec[c] = pdf[c].to_numpy().astype(d)
        blob = encode_hdf5(
            var_name, rec, ("row",),
            global_attrs=g_attrs,
            compress=compress,
            chunks=(max(len(rec), 1),) if compress else None,
            header_version=header_version,
            group_style=group_style,
        )
        fname = f"part-{int(key[0])}.h5"
        put.put(fname, blob)
        return pd.DataFrame({"file": [fname]})

    keyed = df.select(
        (F.col(key_col) / rows_per_file).cast("int").alias("_shard"),
        *cols,
    )
    keyed.groupBy("_shard").applyInPandas(
        write_shard, out_schema).count()
    put.put(
        "_meta.json",
        json.dumps({
            "var": var_name, "table": True,
            "columns": {c: str(np.dtype(cols[c])) for c in cols},
            "key": key_col, "rows_per_file": rows_per_file,
        }).encode(),
    )


def read_hdf5_table(
    spark: SparkSession,
    path: str,
    columns: dict[str, str],
    var_name: str = "table",
) -> DataFrame:
    """Read a compound-dataset granule directory (or single .h5 file)
    back as one Spark column per member.  ``columns`` mirrors the
    write-side dict (it fixes the Spark schema without a driver-side
    file peek); members present in the file but absent from
    ``columns`` are ignored, missing ones raise.  Decoding is the
    same keyed granule fetch as :func:`read_hdf5`."""
    store, keys = list_granules(path, _GRANULE_SUFFIXES)
    schema = T.StructType(
        [_table_spark_field(c, d) for c, d in columns.items()])

    def fetch_one(key: str) -> pd.DataFrame | None:
        var = decode_hdf5(store.get(key))["vars"].get(var_name)
        if var is None:
            return None
        rec = var["data"]
        if rec.dtype.names is None:
            raise ValueError(
                f"dataset {var_name} is not a compound table")
        cols = {}
        for c, d in columns.items():
            if c not in rec.dtype.names:
                raise ValueError(
                    f"member {c!r} missing from table "
                    f"(has {rec.dtype.names})")
            v = rec[c]
            if np.dtype(d).kind == "S":
                cols[c] = [
                    b.split(b"\x00")[0].decode("utf-8", errors="replace")
                    for b in v.tolist()
                ]
            else:
                cols[c] = v
        return pd.DataFrame(cols)

    return fetch_chunks(spark, keys, fetch_one, schema=schema)
