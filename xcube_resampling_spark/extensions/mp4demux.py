"""ISO BMFF (MP4/MOV) sample-level demux -- container plumbing, no
codec decode.

Scope (the "probe-and-route" tier between :mod:`.mediaprobe` and a
real decoder): interpret the full ``stbl`` sample-table machinery so a
100-TB video corpus can be split into PER-SAMPLE rows distributed --
keyframe-only sampling, payload routing to downstream (GPU) decoders,
per-sample dedup/fingerprinting -- without decompressing a single
frame.  Everything here is byte-exact structural parsing of the
public ISO/IEC 14496-12 box format:

* ``stts``  decoding time deltas (run-length)  -> per-sample dts
* ``ctts``  composition offsets (v0/v1)        -> per-sample pts
* ``stsc``  sample-to-chunk runs               -> chunk membership
* ``stsz``  sample sizes (fixed or table)      -> per-sample size
* ``stco``/``co64``  chunk file offsets        -> absolute offsets
* ``stss``  sync-sample table                  -> keyframe flags
  (absent table = every sample is a sync sample, per spec)

Writer :func:`build_mp4` emits a minimal valid file (ftyp + mdat +
moov) with arbitrary per-sample durations/keyframes/chunking -- used
by the tests and the oracle leg to round-trip REAL multi-run tables,
and usable as a sample-packager in its own right.

The reference engine has no video surface; this module extends the
multimodal column family (SURVEY.md training-data extensions), the
same tier as extensions/mediaprobe.py and avicodec.py.

Spark shape: :func:`demux_mp4` is one narrow Arrow ``mapInPandas``
pass -- (media row) -> (sample rows); no shuffle, no driver
involvement, malformed payloads degrade to zero rows with an error
string rather than failing the task (the mediaprobe hardening
contract).
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

__all__ = [
    "build_mp4",
    "build_fmp4",
    "parse_mp4_samples",
    "demux_mp4",
    "encode_mp4_media",
    "encode_fmp4_media",
]

# tfhd flags (ISO/IEC 14496-12 8.8.7)
_TFHD_BASE_DATA_OFFSET = 0x000001
_TFHD_SAMPLE_DESC_IDX = 0x000002
_TFHD_DEFAULT_DURATION = 0x000008
_TFHD_DEFAULT_SIZE = 0x000010
_TFHD_DEFAULT_FLAGS = 0x000020
_TFHD_DEFAULT_BASE_IS_MOOF = 0x020000
# trun flags (8.8.8)
_TRUN_DATA_OFFSET = 0x000001
_TRUN_FIRST_SAMPLE_FLAGS = 0x000004
_TRUN_SAMPLE_DURATION = 0x000100
_TRUN_SAMPLE_SIZE = 0x000200
_TRUN_SAMPLE_FLAGS = 0x000400
_TRUN_SAMPLE_CTO = 0x000800
# sample flags: sample_is_non_sync_sample (8.8.3.1)
_SAMPLE_NON_SYNC = 0x00010000
# a clean "sync sample" flag word: sample_depends_on = 2 (I-frame)
_SYNC_SAMPLE_FLAGS = 0x02000000
_NON_SYNC_SAMPLE_FLAGS = 0x01010000


# ---------------------------------------------------------------- parse

def _boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, body_start, box_end, box_start) for the boxes
    in ``data[start:end]``; stops cleanly at any malformed/truncated
    size field (same contract as mediaprobe)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        btype = data[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                return
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            body = pos + 16
        elif size == 0:  # extends to the end of the enclosing box
            size = end - pos
        if size < 8 or pos + size > end:
            return
        yield btype, body, pos + size, pos
        pos += size


def _find(data: bytes, start: int, end: int, fourcc: bytes):
    for b, p, e, _ in _boxes(data, start, end):
        if b == fourcc:
            return p, e
    return None


def _full_box(data: bytes, body: int):
    """(version, flags, payload_start) of a FullBox.

    Raises ``ValueError`` when the 4-byte version/flags header would
    read past EOF (a truncated 8-byte FullBox), so malformed input
    degrades to an error row instead of an uncaught IndexError."""
    if body + 4 > len(data):
        raise ValueError("truncated FullBox header")
    ver = data[body]
    flags = int.from_bytes(data[body + 1:body + 4], "big")
    return ver, flags, body + 4


def _entries(data: bytes, q: int, end: int, width: int,
             name: str) -> tuple[int, int]:
    """(count, first_entry) of a sample table whose 32-bit entry count
    sits at ``q``.  Raises ``ValueError`` before anything is allocated
    when ``count`` entries of ``width`` bytes overrun the box ending at
    ``end`` -- one corrupted count must not size an allocation."""
    if q + 4 > end:
        raise ValueError(f"{name}: truncated entry count")
    (n,) = struct.unpack_from(">I", data, q)
    if n * width > end - q - 4:
        raise ValueError(
            f"{name}: {n} entries of {width} bytes overrun the "
            f"{end - q - 4} bytes left in the box")
    return n, q + 4


def _parse_stbl(data: bytes, start: int, end: int) -> dict:
    """Decode one track's sample tables into dense per-sample arrays.

    Every length field is validated before it sizes an allocation:
    table entry counts against the bytes left in their box, the
    ``stts``/``ctts`` run counts against the ``stsz`` sample count, and
    a fixed-size ``stsz`` against the file size."""
    t: dict = {}
    runs: dict = {}
    for b, p, e, _ in _boxes(data, start, end):
        if b == b"stts":
            _, _, q = _full_box(data, p)
            n, q = _entries(data, q, e, 8, "stts")
            ent = struct.unpack_from(f">{2 * n}I", data, q)
            runs["stts"] = (np.asarray(ent[0::2], dtype=np.int64),
                            np.asarray(ent[1::2], dtype=np.int64))
        elif b == b"ctts":
            ver, _, q = _full_box(data, p)
            n, q = _entries(data, q, e, 8, "ctts")
            counts = np.empty(n, dtype=np.int64)
            offs = np.empty(n, dtype=np.int64)
            for k in range(n):
                c, = struct.unpack_from(">I", data, q + 8 * k)
                # v1 offsets are SIGNED (negative composition shift)
                fmt = ">i" if ver == 1 else ">I"
                o, = struct.unpack_from(fmt, data, q + 4 + 8 * k)
                counts[k], offs[k] = c, o
            runs["ctts"] = (counts, offs)
        elif b == b"stsc":
            _, _, q = _full_box(data, p)
            n, q = _entries(data, q, e, 12, "stsc")
            ent = struct.unpack_from(f">{3 * n}I", data, q)
            # (first_chunk, samples_per_chunk, sample_desc_idx) runs
            t["stsc"] = [
                (ent[3 * k], ent[3 * k + 1]) for k in range(n)
            ]
        elif b == b"stsz":
            _, _, q = _full_box(data, p)
            if q + 4 > e:
                raise ValueError("stsz: truncated sample size")
            (fixed,) = struct.unpack_from(">I", data, q)
            n, q = _entries(data, q + 4, e, 0 if fixed else 4, "stsz")
            if fixed:
                if n * fixed > len(data):
                    raise ValueError(
                        f"stsz: {n} samples of {fixed} bytes exceed the "
                        f"{len(data)}-byte file")
                t["sizes"] = np.full(n, fixed, dtype=np.int64)
            else:
                t["sizes"] = np.asarray(
                    struct.unpack_from(f">{n}I", data, q),
                    dtype=np.int64)
        elif b == b"stz2":
            raise NotImplementedError(
                "stz2 compact sample sizes are not supported")
        elif b in (b"stco", b"co64"):
            _, _, q = _full_box(data, p)
            width = 8 if b == b"co64" else 4
            n, q = _entries(data, q, e, width, b.decode())
            fmt = f">{n}Q" if b == b"co64" else f">{n}I"
            t["chunk_offsets"] = np.asarray(
                struct.unpack_from(fmt, data, q), dtype=np.int64)
        elif b == b"stss":
            _, _, q = _full_box(data, p)
            n, q = _entries(data, q, e, 4, "stss")
            t["sync"] = np.asarray(
                struct.unpack_from(f">{n}I", data, q), dtype=np.int64)
        elif b == b"stsd" and p + 16 <= e:
            t["codec"] = data[p + 12:p + 16].decode(
                "ascii", errors="replace").strip()
    if "sizes" in t:
        n = len(t["sizes"])
        for name, key in (("stts", "deltas"), ("ctts", "ctts")):
            if name not in runs:
                continue
            counts, vals = runs[name]
            if int(counts.sum()) != n:
                raise ValueError(
                    f"{name} runs cover {int(counts.sum())} samples, "
                    f"stsz has {n}")
            t[key] = np.repeat(vals, counts)
    return t


def _sample_offsets(stsc, chunk_offsets, sizes) -> np.ndarray:
    """Absolute file offset of every sample: expand the stsc runs to a
    per-chunk sample count, then cumulative sizes within each chunk."""
    n_chunks = len(chunk_offsets)
    n_samples = len(sizes)
    if stsc and stsc[0][0] != 1:
        raise ValueError(
            f"stsc first run starts at chunk {stsc[0][0]}, must be 1")
    # np.zeros (not empty): a malformed gap in the runs then maps to
    # zero samples and fails the coverage check below, never garbage.
    per_chunk = np.zeros(n_chunks, dtype=np.int64)
    prev_first = 0
    for idx, (first, spc) in enumerate(stsc):
        if first <= prev_first:
            raise ValueError(
                "stsc first_chunk values must be strictly increasing "
                f"(run {idx}: {first} after {prev_first})")
        prev_first = first
        last = (stsc[idx + 1][0] - 1) if idx + 1 < len(stsc) \
            else n_chunks
        per_chunk[first - 1:last] = spc
    if per_chunk.sum() < n_samples:
        raise ValueError(
            f"stsc maps {per_chunk.sum()} samples, stsz has "
            f"{n_samples}")
    offsets = np.empty(n_samples, dtype=np.int64)
    s = 0
    for c in range(n_chunks):
        if s >= n_samples:
            break
        k = min(int(per_chunk[c]), n_samples - s)
        csz = sizes[s:s + k]
        offsets[s:s + k] = chunk_offsets[c] + (
            np.concatenate(([0], np.cumsum(csz[:-1]))))
        s += k
    return offsets


def _parse_trex(data: bytes, moov_body: int, moov_end: int) -> dict:
    """mvex/trex per-track fragment defaults:
    track_id -> (default_duration, default_size, default_flags)."""
    out: dict[int, tuple[int, int, int]] = {}
    mvex = _find(data, moov_body, moov_end, b"mvex")
    if mvex is None:
        return out
    for b, p, e, _ in _boxes(data, *mvex):
        if b == b"trex":
            _, _, q = _full_box(data, p)
            tid, _dsdi, ddur, dsize, dflags = struct.unpack_from(
                ">5I", data, q)
            out[tid] = (ddur, dsize, dflags)
    return out


def _parse_moof(data: bytes, body: int, end: int, moof_start: int,
                trex: dict, frag_dts: dict, frag_idx: dict,
                samples: list, want_payload: bool) -> None:
    """One movie fragment (ISO 14496-12 8.8): tfhd defaults, optional
    tfdt decode-time anchor, trun sample runs with per-sample or
    inherited duration/size/flags/cto.  Appends sample records,
    advancing the per-track dts and sample_idx cursors."""
    prev_traf_end: int | None = None
    first_traf = True
    for tb, tp, te, _ in _boxes(data, body, end):
        if tb != b"traf":
            continue
        th = _find(data, tp, te, b"tfhd")
        if th is None:
            raise ValueError("traf without tfhd")
        _, fl, q = _full_box(data, th[0])
        (tid,) = struct.unpack_from(">I", data, q)
        q += 4
        bdo = None
        if fl & _TFHD_BASE_DATA_OFFSET:
            (bdo,) = struct.unpack_from(">Q", data, q)
            q += 8
        if fl & _TFHD_SAMPLE_DESC_IDX:
            q += 4
        tx = trex.get(tid, (None, None, None))
        d_dur, d_size, d_flags = tx
        if fl & _TFHD_DEFAULT_DURATION:
            (d_dur,) = struct.unpack_from(">I", data, q)
            q += 4
        if fl & _TFHD_DEFAULT_SIZE:
            (d_size,) = struct.unpack_from(">I", data, q)
            q += 4
        if fl & _TFHD_DEFAULT_FLAGS:
            (d_flags,) = struct.unpack_from(">I", data, q)
            q += 4
        if bdo is not None:
            base = int(bdo)
        elif fl & _TFHD_DEFAULT_BASE_IS_MOOF:
            base = moof_start
        elif first_traf:
            # spec default: first traf of the moof anchors at the
            # first byte of the enclosing moof box
            base = moof_start
        elif prev_traf_end is not None:
            # ...subsequent trafs at the end of the preceding one's
            base = prev_traf_end
        else:
            raise ValueError("traf has no resolvable base offset")
        td = _find(data, tp, te, b"tfdt")
        if td is not None:
            tver, _, tq = _full_box(data, td[0])
            (bmdt,) = struct.unpack_from(
                ">Q" if tver == 1 else ">I", data, tq)
            dts_cursor = int(bmdt)
        else:
            dts_cursor = frag_dts.get(tid, 0)
        cur: int | None = None
        for rb, rp, re_, _ in _boxes(data, tp, te):
            if rb != b"trun":
                continue
            rver, rfl, rq = _full_box(data, rp)
            (cnt,) = struct.unpack_from(">I", data, rq)
            rq += 4
            if rfl & _TRUN_DATA_OFFSET:
                (off,) = struct.unpack_from(">i", data, rq)
                rq += 4
                cur = base + off
            elif cur is None:
                cur = base
            fsf = None
            if rfl & _TRUN_FIRST_SAMPLE_FLAGS:
                (fsf,) = struct.unpack_from(">I", data, rq)
                rq += 4
            for k in range(cnt):
                dur = size = sflags = None
                cto = 0
                if rfl & _TRUN_SAMPLE_DURATION:
                    (dur,) = struct.unpack_from(">I", data, rq)
                    rq += 4
                if rfl & _TRUN_SAMPLE_SIZE:
                    (size,) = struct.unpack_from(">I", data, rq)
                    rq += 4
                if rfl & _TRUN_SAMPLE_FLAGS:
                    (sflags,) = struct.unpack_from(">I", data, rq)
                    rq += 4
                if rfl & _TRUN_SAMPLE_CTO:
                    (cto,) = struct.unpack_from(
                        ">i" if rver else ">I", data, rq)
                    rq += 4
                if dur is None:
                    dur = d_dur
                if size is None:
                    size = d_size
                if sflags is None:
                    sflags = fsf if (k == 0 and fsf is not None) \
                        else d_flags
                if dur is None or size is None:
                    raise ValueError(
                        f"track {tid}: trun sample {k} has no "
                        "duration/size (neither per-sample nor "
                        "tfhd/trex default)")
                if sflags is None:
                    sflags = 0
                if cur + size > len(data):
                    raise ValueError(
                        f"track {tid}: fragment sample data extends "
                        f"past EOF ({cur + size} > {len(data)})")
                rec = {
                    "track_id": int(tid),
                    "sample_idx": frag_idx.get(tid, 0),
                    "dts": int(dts_cursor),
                    "pts": int(dts_cursor + cto),
                    "size": int(size), "offset": int(cur),
                    "keyframe": not (sflags & _SAMPLE_NON_SYNC),
                }
                if want_payload:
                    rec["data"] = data[cur:cur + size]
                samples.append(rec)
                frag_idx[tid] = frag_idx.get(tid, 0) + 1
                cur += size
                dts_cursor += dur
        prev_traf_end = cur if cur is not None else prev_traf_end
        first_traf = False
        frag_dts[tid] = dts_cursor


def parse_mp4_samples(data: bytes, *, want_payload: bool = True):
    """Demux an ISO BMFF byte string into per-sample records.

    Handles both the classic moov/stbl layout and MOVIE FRAGMENTS
    (moof/traf -- the DASH/CMAF layout crawled video actually uses,
    ISO 14496-12 8.8): trex defaults, tfhd overrides,
    default-base-is-moof and explicit base-data-offset addressing,
    tfdt decode-time anchors, multi-trun continuation, and
    sample-flag keyframe bits.  Fragment samples continue each
    track's sample_idx/dts numbering after any stbl samples.

    Returns ``(tracks, samples)``: ``tracks`` is a list of
    ``{track_id, kind, codec, timescale, n_samples}``; ``samples`` a
    list of ``{track_id, sample_idx, dts, pts, size, offset,
    keyframe, data}`` (``data`` omitted when ``want_payload`` is
    False -- the offset/size pair routes a later ranged read).
    Raises ``ValueError`` on structurally inconsistent tables and
    ``NotImplementedError`` on stz2; a missing moov yields
    ``([], [])``."""
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        return [], []
    tracks, samples = [], []
    frag_dts: dict[int, int] = {}
    frag_idx: dict[int, int] = {}
    for b, p, e, _ in _boxes(data, *moov):
        if b != b"trak":
            continue
        track_id, kind, timescale = None, "", None
        stbl = None
        th = _find(data, p, e, b"tkhd")
        if th is not None:
            ver, _, q = _full_box(data, th[0])
            track_id, = struct.unpack_from(
                ">I", data, q + (16 if ver == 1 else 8))
        mdia = _find(data, p, e, b"mdia")
        if mdia is not None:
            mh = _find(data, *mdia, b"mdhd")
            if mh is not None:
                ver, _, q = _full_box(data, mh[0])
                timescale, = struct.unpack_from(
                    ">I", data, q + (16 if ver == 1 else 8))
            hd = _find(data, *mdia, b"hdlr")
            if hd is not None:
                kind = data[hd[0] + 8:hd[0] + 12].decode(
                    "ascii", errors="replace")
            minf = _find(data, *mdia, b"minf")
            if minf is not None:
                st = _find(data, *minf, b"stbl")
                if st is not None:
                    stbl = _parse_stbl(data, *st)
        if stbl is None or "sizes" not in stbl:
            continue
        sizes = stbl["sizes"]
        n = len(sizes)
        deltas = stbl.get("deltas")
        if deltas is None:
            raise ValueError(
                f"track {track_id}: no stts, stsz has {n} samples")
        dts = np.concatenate(([0], np.cumsum(deltas[:-1])))
        ctts = stbl.get("ctts")
        pts = dts + (ctts if ctts is not None else 0)
        if "stsc" not in stbl or "chunk_offsets" not in stbl:
            raise ValueError(
                f"track {track_id}: stsz present but "
                f"stsc/stco missing")
        offsets = _sample_offsets(
            stbl["stsc"], stbl["chunk_offsets"], sizes)
        if n and int((offsets + sizes).max()) > len(data):
            raise ValueError(
                f"track {track_id}: sample data extends past EOF "
                f"({int((offsets + sizes).max())} > {len(data)})")
        sync = stbl.get("sync")
        if sync is None:
            keyframe = np.ones(n, dtype=bool)  # spec: absent = all
        else:
            if len(sync) and (sync.min() < 1 or sync.max() > n):
                raise ValueError(
                    f"track {track_id}: stss sync entry out of "
                    f"range [1, {n}]")
            keyframe = np.zeros(n, dtype=bool)
            keyframe[sync - 1] = True  # stss is 1-based
        tracks.append({
            "track_id": int(track_id or 0), "kind": kind,
            "codec": stbl.get("codec", ""),
            "timescale": int(timescale or 0), "n_samples": int(n),
        })
        # fragment cursors continue after the stbl samples
        frag_idx[int(track_id or 0)] = int(n)
        frag_dts[int(track_id or 0)] = (
            int(dts[-1] + deltas[-1]) if n else 0)
        for k in range(n):
            rec = {
                "track_id": int(track_id or 0), "sample_idx": k,
                "dts": int(dts[k]), "pts": int(pts[k]),
                "size": int(sizes[k]), "offset": int(offsets[k]),
                "keyframe": bool(keyframe[k]),
            }
            if want_payload:
                o, z = int(offsets[k]), int(sizes[k])
                rec["data"] = data[o:o + z]
            samples.append(rec)
    # movie fragments (moof/traf): the DASH/CMAF layout
    trex = _parse_trex(data, *moov)
    for b, p, e, bs in _boxes(data, 0, len(data)):
        if b == b"moof":
            _parse_moof(data, p, e, bs, trex, frag_dts, frag_idx,
                        samples, want_payload)
    for t in tracks:
        t["n_samples"] = int(frag_idx.get(t["track_id"],
                                          t["n_samples"]))
    return tracks, samples


# ---------------------------------------------------------------- build

def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def _full(fourcc: bytes, ver: int, payload: bytes) -> bytes:
    return _box(fourcc, bytes([ver, 0, 0, 0]) + payload)


def _rle(values) -> list[tuple[int, int]]:
    runs: list[tuple[int, int]] = []
    for v in values:
        if runs and runs[-1][1] == v:
            runs[-1] = (runs[-1][0] + 1, v)
        else:
            runs.append((1, v))
    return runs


def build_mp4(
    samples: list[bytes],
    *,
    durations: list[int] | int = 40,
    keyframes: list[bool] | None = None,
    ctts_offsets: list[int] | None = None,
    chunk_size: int = 3,
    timescale: int = 1000,
    track_id: int = 1,
    kind: bytes = b"vide",
    codec: bytes = b"avc1",
    use_co64: bool = False,
) -> bytes:
    """Write a minimal valid single-track ISO BMFF file.

    Samples land in ``mdat`` grouped ``chunk_size`` per chunk (the
    real interleaved-chunk layout, so stsc/stco are exercised for
    real, including the short last chunk).  ``durations`` may vary
    per sample -- stts is emitted run-length-encoded exactly as a
    muxer would.  ``keyframes`` emits an stss (omit for the
    all-sync default); ``ctts_offsets`` emits a v0 ctts."""
    n = len(samples)
    if isinstance(durations, int):
        durations = [durations] * n
    if len(durations) != n:
        raise ValueError("durations must match samples")
    mdat_payload = b"".join(samples)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512)
                + b"isomiso2mp41")
    mdat_start = len(ftyp)
    data_start = mdat_start + 8  # mdat header

    sizes = [len(s) for s in samples]
    n_chunks = (n + chunk_size - 1) // chunk_size if n else 0
    chunk_offsets = []
    pos = data_start
    for c in range(n_chunks):
        chunk_offsets.append(pos)
        pos += sum(sizes[c * chunk_size:(c + 1) * chunk_size])

    stts_runs = _rle(durations)
    stts = _full(b"stts", 0, struct.pack(">I", len(stts_runs))
                 + b"".join(struct.pack(">II", c, d)
                            for c, d in stts_runs))
    stsz = _full(b"stsz", 0, struct.pack(">II", 0, n)
                 + b"".join(struct.pack(">I", z) for z in sizes))
    # stsc: all chunks hold chunk_size samples except a short last
    stsc_entries = [(1, chunk_size)]
    if n and n % chunk_size:
        if n_chunks > 1:
            stsc_entries.append((n_chunks, n % chunk_size))
        else:
            stsc_entries = [(1, n % chunk_size)]
    stsc = _full(b"stsc", 0, struct.pack(">I", len(stsc_entries))
                 + b"".join(struct.pack(">III", fc, spc, 1)
                            for fc, spc in stsc_entries))
    if use_co64:
        co = _full(b"co64", 0, struct.pack(">I", n_chunks)
                   + b"".join(struct.pack(">Q", o)
                              for o in chunk_offsets))
    else:
        co = _full(b"stco", 0, struct.pack(">I", n_chunks)
                   + b"".join(struct.pack(">I", o)
                              for o in chunk_offsets))
    stbl = stts + stsz + stsc + co
    if ctts_offsets is not None:
        if len(ctts_offsets) != n:
            raise ValueError("ctts_offsets must match samples")
        runs = _rle(ctts_offsets)
        stbl += _full(b"ctts", 0, struct.pack(">I", len(runs))
                      + b"".join(struct.pack(">II", c, o)
                                 for c, o in runs))
    if keyframes is not None:
        if len(keyframes) != n:
            raise ValueError("keyframes must match samples")
        sync = [i + 1 for i, kf in enumerate(keyframes) if kf]
        stbl += _full(b"stss", 0, struct.pack(">I", len(sync))
                      + b"".join(struct.pack(">I", s)
                                 for s in sync))
    # sample description: opaque entry, enough for codec routing
    entry = struct.pack(">I", 16) + codec + b"\x00" * 6 \
        + struct.pack(">H", 1)
    stbl = _full(b"stsd", 0, struct.pack(">I", 1) + entry) + stbl
    stbl = _box(b"stbl", stbl)

    total_dur = sum(durations)
    mdhd = _full(b"mdhd", 0, struct.pack(
        ">IIII", 0, 0, timescale, total_dur) + b"\x55\xc4\x00\x00")
    hdlr = _full(b"hdlr", 0, b"\x00" * 4 + kind + b"\x00" * 12
                 + b"demux\x00")
    # data reference: one self-contained 'url ' entry (flags=1)
    url_entry = struct.pack(">I", 12) + b"url " + b"\x00\x00\x00\x01"
    dref = _full(b"dref", 0, struct.pack(">I", 1) + url_entry)
    minf = _box(b"minf", _box(b"dinf", dref) + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    # tkhd v0 tail: reserved(8) layer/alt/volume/reserved(8)
    # matrix(36) width+height 16.16(8) = 60 bytes
    tkhd = _full(b"tkhd", 0, struct.pack(
        ">IIIII", 0, 0, track_id, 0, total_dur) + b"\x00" * 60)
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(b"mvhd", 0, struct.pack(
        ">IIII", 0, 0, timescale, total_dur) + b"\x00" * 80)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + _box(b"mdat", mdat_payload) + moov


def build_fmp4(
    samples: list[bytes],
    *,
    durations: list[int] | int = 40,
    keyframes: list[bool] | None = None,
    ctts_offsets: list[int] | None = None,
    samples_per_fragment: int = 4,
    truns_per_fragment: int = 1,
    timescale: int = 1000,
    track_id: int = 1,
    kind: bytes = b"vide",
    codec: bytes = b"avc1",
    base_offset_mode: str = "moof",
    use_tfdt: bool = True,
    use_defaults: bool = False,
) -> bytes:
    """Write a fragmented ISO BMFF file (the DASH/CMAF layout): ftyp
    + moov(mvex/trex, empty stbl) + per-fragment moof(mfhd,
    traf(tfhd, [tfdt], trun...)) + mdat.

    ``base_offset_mode``: ``"moof"`` sets tfhd default-base-is-moof
    and a trun data-offset; ``"explicit"`` writes a tfhd
    base-data-offset pointing at the mdat payload and NO trun
    data-offset (the continuation path).  ``truns_per_fragment``
    splits each fragment's run to exercise multi-trun continuation.
    ``use_defaults`` carries duration/size/flags in trex and omits
    the per-sample trun fields (requires uniform durations/sizes and
    keyframes only at fragment starts, signalled via
    first-sample-flags)."""
    if base_offset_mode not in ("moof", "explicit"):
        raise ValueError(f"unknown base_offset_mode "
                         f"{base_offset_mode!r}")
    n = len(samples)
    if isinstance(durations, int):
        durations = [durations] * n
    if len(durations) != n:
        raise ValueError("durations must match samples")
    if keyframes is None:
        keyframes = [True] * n
    if len(keyframes) != n:
        raise ValueError("keyframes must match samples")
    if ctts_offsets is not None and len(ctts_offsets) != n:
        raise ValueError("ctts_offsets must match samples")
    sizes = [len(s) for s in samples]
    if use_defaults:
        if len(set(durations)) > 1 or len(set(sizes)) > 1:
            raise ValueError(
                "use_defaults needs uniform durations and sizes")
        if ctts_offsets is not None:
            raise ValueError("use_defaults excludes ctts_offsets")

    # ---- moov with an EMPTY sample table + mvex/trex
    entry = struct.pack(">I", 16) + codec + b"\x00" * 6 \
        + struct.pack(">H", 1)
    stbl = _full(b"stsd", 0, struct.pack(">I", 1) + entry)
    stbl += _full(b"stts", 0, struct.pack(">I", 0))
    stbl += _full(b"stsz", 0, struct.pack(">II", 0, 0))
    stbl += _full(b"stsc", 0, struct.pack(">I", 0))
    stbl += _full(b"stco", 0, struct.pack(">I", 0))
    stbl = _box(b"stbl", stbl)
    total_dur = sum(durations)
    mdhd = _full(b"mdhd", 0, struct.pack(
        ">IIII", 0, 0, timescale, 0) + b"\x55\xc4\x00\x00")
    hdlr = _full(b"hdlr", 0, b"\x00" * 4 + kind + b"\x00" * 12
                 + b"demux\x00")
    url_entry = struct.pack(">I", 12) + b"url " + b"\x00\x00\x00\x01"
    dref = _full(b"dref", 0, struct.pack(">I", 1) + url_entry)
    minf = _box(b"minf", _box(b"dinf", dref) + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(b"tkhd", 0, struct.pack(
        ">IIIII", 0, 0, track_id, 0, total_dur) + b"\x00" * 60)
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(b"mvhd", 0, struct.pack(
        ">IIII", 0, 0, timescale, total_dur) + b"\x00" * 80)
    d_dur = durations[0] if (use_defaults and n) else 0
    d_size = sizes[0] if (use_defaults and n) else 0
    d_flags = _NON_SYNC_SAMPLE_FLAGS if use_defaults else 0
    trex = _full(b"trex", 0, struct.pack(
        ">5I", track_id, 1, d_dur, d_size, d_flags))
    moov = _box(b"moov", mvhd + trak + _box(b"mvex", trex))
    out = _box(b"ftyp", b"isom" + struct.pack(">I", 512)
               + b"iso6cmfc") + moov

    # ---- fragments
    spf = max(1, samples_per_fragment)
    frag_starts = list(range(0, n, spf))
    dts_cursor = 0
    for seq, s0 in enumerate(frag_starts, start=1):
        idx = list(range(s0, min(s0 + spf, n)))
        if use_defaults and any(
                keyframes[i] for i in idx[1:]):
            raise ValueError(
                "use_defaults supports keyframes only at "
                "fragment starts")
        payload = b"".join(samples[i] for i in idx)

        def emit_moof(data_off: int, bdo: int) -> bytes:
            tfhd_flags = 0
            tfhd_body = struct.pack(">I", track_id)
            if base_offset_mode == "explicit":
                tfhd_flags |= _TFHD_BASE_DATA_OFFSET
                tfhd_body += struct.pack(">Q", bdo)
            else:
                tfhd_flags |= _TFHD_DEFAULT_BASE_IS_MOOF
            tfhd = _box(b"tfhd", bytes(
                [0, 0, (tfhd_flags >> 8) & 0xFF, tfhd_flags & 0xFF]
            ) + tfhd_body)
            traf = tfhd
            if use_tfdt:
                traf += _box(b"tfdt", bytes([1, 0, 0, 0])
                             + struct.pack(">Q", dts_cursor))
            n_truns = max(1, min(truns_per_fragment, len(idx)))
            per = -(-len(idx) // n_truns)
            for t0 in range(0, len(idx), per):
                run = idx[t0:t0 + per]
                rflags = 0
                body = b""
                if base_offset_mode == "moof" and t0 == 0:
                    rflags |= _TRUN_DATA_OFFSET
                if use_defaults:
                    if t0 == 0 and keyframes[run[0]]:
                        rflags |= _TRUN_FIRST_SAMPLE_FLAGS
                else:
                    rflags |= (_TRUN_SAMPLE_DURATION
                               | _TRUN_SAMPLE_SIZE
                               | _TRUN_SAMPLE_FLAGS)
                    if ctts_offsets is not None:
                        rflags |= _TRUN_SAMPLE_CTO
                body += struct.pack(">I", len(run))
                if rflags & _TRUN_DATA_OFFSET:
                    body += struct.pack(">i", data_off)
                if rflags & _TRUN_FIRST_SAMPLE_FLAGS:
                    body += struct.pack(">I", _SYNC_SAMPLE_FLAGS)
                if not use_defaults:
                    for i in run:
                        body += struct.pack(">I", durations[i])
                        body += struct.pack(">I", sizes[i])
                        body += struct.pack(
                            ">I",
                            _SYNC_SAMPLE_FLAGS if keyframes[i]
                            else _NON_SYNC_SAMPLE_FLAGS)
                        if ctts_offsets is not None:
                            body += struct.pack(
                                ">I", ctts_offsets[i])
                traf += _box(b"trun", bytes(
                    [0, 0, (rflags >> 8) & 0xFF, rflags & 0xFF]
                ) + body)
            mfhd = _full(b"mfhd", 0, struct.pack(">I", seq))
            return _box(b"moof", mfhd + _box(b"traf", traf))

        probe = emit_moof(0, 0)  # size-stable: offsets are fixed-width
        moof_start = len(out)
        mdat_payload_at = moof_start + len(probe) + 8
        moof = emit_moof(len(probe) + 8, mdat_payload_at)
        assert len(moof) == len(probe)
        out += moof + _box(b"mdat", payload)
        dts_cursor += sum(durations[i] for i in idx)
    return out


def encode_mp4_media(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    chunk_bytes: int = 16,
    durations: tuple[int, ...] = (40, 20),
    keyframe_every: int = 3,
    ctts_step: int = 10,
    ctts_mod: int = 3,
    chunk_size: int = 3,
) -> DataFrame:
    """Containerize opaque payload bytes as single-track MP4s
    (executor-side, one narrow ``mapInPandas`` pass).

    Sample ``k`` carries payload bytes ``[k*chunk_bytes,
    (k+1)*chunk_bytes)``, duration ``durations[k % len(durations)]``
    (a multi-run stts), composition offset ``ctts_step * (k %
    ctts_mod)`` and a keyframe every ``keyframe_every`` samples --
    deterministic closed forms a SQL oracle can replay, while the
    emitted file exercises the full table machinery (run-length
    stts, ctts, stss, short-last-chunk stsc)."""
    cols = [id_col, payload_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, payloads = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload or b"")
                samples = [b[i:i + chunk_bytes]
                           for i in range(0, len(b), chunk_bytes)]
                n = len(samples)
                mids.append(mid)
                payloads.append(build_mp4(
                    samples,
                    durations=[durations[k % len(durations)]
                               for k in range(n)],
                    keyframes=[k % keyframe_every == 0
                               for k in range(n)],
                    ctts_offsets=[ctts_step * (k % ctts_mod)
                                  for k in range(n)],
                    chunk_size=chunk_size,
                ))
            yield pd.DataFrame(
                {"media_id": mids, "payload": payloads})

    return media.select(*cols).mapInPandas(
        gen, "media_id long, payload binary")


def encode_fmp4_media(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    chunk_bytes: int = 16,
    durations: tuple[int, ...] = (40, 20),
    keyframe_every: int = 3,
    ctts_step: int = 10,
    ctts_mod: int = 3,
    samples_per_fragment: int = 4,
) -> DataFrame:
    """Containerize opaque payload bytes as FRAGMENTED single-track
    MP4s (DASH/CMAF layout) with the same deterministic closed forms
    as :func:`encode_mp4_media` -- identical per-sample
    dts/pts/size/keyframe/payload, entirely different container
    machinery (moof/traf/tfhd/tfdt/trun instead of stbl)."""
    cols = [id_col, payload_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, payloads = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload or b"")
                samples = [b[i:i + chunk_bytes]
                           for i in range(0, len(b), chunk_bytes)]
                n = len(samples)
                mids.append(mid)
                payloads.append(build_fmp4(
                    samples,
                    durations=[durations[k % len(durations)]
                               for k in range(n)],
                    keyframes=[k % keyframe_every == 0
                               for k in range(n)],
                    ctts_offsets=[ctts_step * (k % ctts_mod)
                                  for k in range(n)],
                    samples_per_fragment=samples_per_fragment,
                ))
            yield pd.DataFrame(
                {"media_id": mids, "payload": payloads})

    return media.select(*cols).mapInPandas(
        gen, "media_id long, payload binary")


# ---------------------------------------------------------------- spark

_DEMUX_SCHEMA = (
    "media_id long, track_id int, kind string, codec string, "
    "sample_idx int, dts long, pts long, size long, offset long, "
    "keyframe boolean, data binary, error string"
)


def demux_mp4(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    want_payload: bool = True,
) -> DataFrame:
    """One row per container sample: the distributed demux pass.

    Narrow Arrow ``mapInPandas`` (no shuffle): each media row fans
    out to its samples with timing/keyframe/offset metadata and,
    optionally, the raw sample payload for downstream routing.  A
    malformed container contributes a single row with ``error`` set
    and NULL sample fields instead of failing the task."""
    cols = [id_col, payload_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "track_id": [], "kind": [],
                "codec": [], "sample_idx": [], "dts": [], "pts": [],
                "size": [], "offset": [], "keyframe": [], "data": [],
                "error": [],
            }

            def emit(mid, rec, kinds, err=None):
                out["media_id"].append(mid)
                out["track_id"].append(
                    None if rec is None else rec["track_id"])
                out["kind"].append(
                    None if rec is None
                    else kinds.get(rec["track_id"], ("", ""))[0])
                out["codec"].append(
                    None if rec is None
                    else kinds.get(rec["track_id"], ("", ""))[1])
                out["sample_idx"].append(
                    None if rec is None else rec["sample_idx"])
                out["dts"].append(None if rec is None else rec["dts"])
                out["pts"].append(None if rec is None else rec["pts"])
                out["size"].append(
                    None if rec is None else rec["size"])
                out["offset"].append(
                    None if rec is None else rec["offset"])
                out["keyframe"].append(
                    None if rec is None else rec["keyframe"])
                out["data"].append(
                    None if rec is None else rec.get("data"))
                out["error"].append(err)

            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    tracks, samples = parse_mp4_samples(
                        bytes(payload or b""),
                        want_payload=want_payload)
                    kinds = {t["track_id"]: (t["kind"], t["codec"])
                             for t in tracks}
                    for rec in samples:
                        emit(mid, rec, kinds)
                except (ValueError, NotImplementedError,
                        struct.error, IndexError) as exc:
                    emit(mid, None, {}, f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(out)

    return media.select(*cols).mapInPandas(gen, _DEMUX_SCHEMA)
