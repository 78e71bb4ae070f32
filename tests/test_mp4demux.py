"""ISO BMFF sample demux: build_mp4 <-> parse_mp4_samples round-trips
plus the Spark mapInPandas pass.

The builder writes REAL multi-entry tables (run-length stts, stsc
with a short last chunk, stss, v0 ctts, co64), so the parser's table
interpretation -- not just a happy path -- is what round-trips.
"""

import struct

import pytest

from xcube_resampling_spark.extensions.mp4demux import (
    build_fmp4,
    build_mp4,
    demux_mp4,
    parse_mp4_samples,
)


def _samples(n, base=5):
    return [bytes([i % 251]) * (base + i) for i in range(n)]


class TestRoundTrip:
    def test_payload_offsets_sizes(self):
        samples = _samples(8)
        data = build_mp4(samples)
        tracks, recs = parse_mp4_samples(data)
        assert len(tracks) == 1 and tracks[0]["n_samples"] == 8
        assert tracks[0]["codec"] == "avc1"
        assert tracks[0]["kind"] == "vide"
        assert tracks[0]["timescale"] == 1000
        for r in recs:
            assert r["data"] == samples[r["sample_idx"]]
            # offsets must index the ORIGINAL bytes (routing contract)
            o, z = r["offset"], r["size"]
            assert data[o:o + z] == samples[r["sample_idx"]]

    def test_varying_durations_rle_stts(self):
        # alternating 40/20 forces one stts run PER SAMPLE
        durs = [40 if i % 2 == 0 else 20 for i in range(9)]
        _, recs = parse_mp4_samples(build_mp4(_samples(9),
                                              durations=durs))
        for r in recs:
            k = r["sample_idx"]
            assert r["dts"] == sum(durs[:k])

    def test_ctts_composition_offsets(self):
        ctts = [10 * (i % 3) for i in range(7)]
        _, recs = parse_mp4_samples(
            build_mp4(_samples(7), ctts_offsets=ctts))
        for r in recs:
            assert r["pts"] == r["dts"] + ctts[r["sample_idx"]]

    def test_stss_keyframes(self):
        kfs = [i % 4 == 0 for i in range(10)]
        _, recs = parse_mp4_samples(
            build_mp4(_samples(10), keyframes=kfs))
        assert [r["keyframe"] for r in recs] == kfs

    def test_absent_stss_means_all_sync(self):
        _, recs = parse_mp4_samples(build_mp4(_samples(5)))
        assert all(r["keyframe"] for r in recs)

    def test_short_last_chunk_stsc(self):
        # 8 samples, 3 per chunk -> chunks of 3/3/2 (two stsc runs)
        samples = _samples(8)
        data = build_mp4(samples, chunk_size=3)
        _, recs = parse_mp4_samples(data)
        assert [r["data"] for r in recs] == samples

    def test_chunk_size_one_and_huge(self):
        for cs in (1, 100):
            samples = _samples(6)
            _, recs = parse_mp4_samples(
                build_mp4(samples, chunk_size=cs))
            assert [r["data"] for r in recs] == samples

    def test_co64(self):
        samples = _samples(6)
        data = build_mp4(samples, use_co64=True)
        assert b"co64" in data and b"stco" not in data
        _, recs = parse_mp4_samples(data)
        assert [r["data"] for r in recs] == samples

    def test_empty_track(self):
        tracks, recs = parse_mp4_samples(build_mp4([]))
        assert recs == [] and tracks and tracks[0]["n_samples"] == 0

    def test_want_payload_false_keeps_routing_fields(self):
        _, recs = parse_mp4_samples(build_mp4(_samples(4)),
                                    want_payload=False)
        assert all("data" not in r for r in recs)
        assert all(r["size"] > 0 for r in recs)


class TestFragmentedRoundTrip:
    """moof/traf (ISO 14496-12 8.8): the DASH/CMAF layout.  The
    builder writes real movie fragments (trex defaults, tfhd
    addressing modes, tfdt anchors, multi-trun runs); the parser's
    fragment walk -- not just a happy path -- is what round-trips."""

    def _check(self, data, samples, durs, kfs, ctts):
        tracks, recs = parse_mp4_samples(data)
        assert len(tracks) == 1
        assert tracks[0]["n_samples"] == len(samples)
        assert len(recs) == len(samples)
        for r in recs:
            k = r["sample_idx"]
            assert r["data"] == samples[k]
            o, z = r["offset"], r["size"]
            assert data[o:o + z] == samples[k]
            assert r["dts"] == sum(durs[:k])
            assert r["pts"] == r["dts"] + (ctts[k] if ctts else 0)
            assert r["keyframe"] == kfs[k]

    @pytest.mark.parametrize("mode", ["moof", "explicit"])
    @pytest.mark.parametrize("tfdt", [True, False])
    @pytest.mark.parametrize("truns", [1, 2])
    def test_all_addressing_modes_roundtrip(self, mode, tfdt, truns):
        n = 11
        samples = _samples(n)
        durs = [40 if k % 2 == 0 else 20 for k in range(n)]
        kfs = [k % 3 == 0 for k in range(n)]
        ctts = [10 * (k % 3) for k in range(n)]
        data = build_fmp4(
            samples, durations=durs, keyframes=kfs,
            ctts_offsets=ctts, samples_per_fragment=4,
            truns_per_fragment=truns, base_offset_mode=mode,
            use_tfdt=tfdt)
        self._check(data, samples, durs, kfs, ctts)

    def test_trex_defaults_and_first_sample_flags(self):
        # no per-sample trun fields at all: duration/size/flags come
        # from trex, keyframes via first-sample-flags
        samples = [bytes([i]) * 8 for i in range(12)]
        kfs = [k % 4 == 0 for k in range(12)]
        data = build_fmp4(samples, durations=30, keyframes=kfs,
                          samples_per_fragment=4, use_defaults=True)
        assert b"trun" in data
        self._check(data, samples, [30] * 12, kfs, None)

    def test_single_sample_fragments(self):
        samples = _samples(5)
        data = build_fmp4(samples, samples_per_fragment=1)
        self._check(data, samples, [40] * 5, [True] * 5, None)

    def test_fragment_count_and_layout(self):
        data = build_fmp4(_samples(10), samples_per_fragment=4)
        assert data.count(b"moof") == 3  # 4+4+2
        assert data.count(b"mdat") == 3
        assert b"mvex" in data and b"trex" in data

    def test_empty_input(self):
        tracks, recs = parse_mp4_samples(build_fmp4([]))
        assert recs == [] and tracks[0]["n_samples"] == 0

    def test_want_payload_false_routes_offsets(self):
        samples = _samples(6)
        data = build_fmp4(samples, samples_per_fragment=4)
        _, recs = parse_mp4_samples(data, want_payload=False)
        assert all("data" not in r for r in recs)
        for r in recs:
            o, z = r["offset"], r["size"]
            assert data[o:o + z] == samples[r["sample_idx"]]

    def test_spark_demux_fragmented(self, spark):
        import pandas as pd

        from xcube_resampling_spark.extensions.mp4demux import (
            encode_fmp4_media,
        )

        rows = [(mid, bytes(range(40 + mid))) for mid in range(5)]
        media = spark.createDataFrame(
            pd.DataFrame(rows, columns=["media_id", "payload"]))
        got = demux_mp4(encode_fmp4_media(media)) \
            .orderBy("media_id", "sample_idx").collect()
        assert all(r.error is None for r in got)
        for r in got:
            k = r.sample_idx
            assert r.dts == 30 * k + 10 * (k % 2)
            assert r.pts == r.dts + 10 * (k % 3)
            assert r.keyframe == (k % 3 == 0)
            want = bytes(range(40 + r.media_id))[16 * k:16 * (k + 1)]
            assert bytes(r.data) == want
        # per-media sample counts: ceil(len/16)
        from collections import Counter

        cnt = Counter(r.media_id for r in got)
        assert cnt == {m: (40 + m + 15) // 16 for m in range(5)}

    def test_truncated_fragment_payload_raises(self):
        data = build_fmp4(_samples(6), samples_per_fragment=3)
        # chop the final mdat short
        with pytest.raises(ValueError):
            parse_mp4_samples(data[:-4])

    def test_trun_without_duration_anywhere_raises(self):
        # a defaults-mode file whose mvex/trex is excised leaves the
        # trun samples with NO duration/size source -> ValueError
        samples = [bytes([i]) * 8 for i in range(4)]
        base = build_fmp4(samples, durations=30,
                          keyframes=[True, False, False, False],
                          samples_per_fragment=4,
                          use_defaults=True)
        mvex_at = base.find(b"mvex") - 4
        mvex_len = struct.unpack_from(">I", base, mvex_at)[0]
        moov_at = base.find(b"moov") - 4
        moov_len = struct.unpack_from(">I", base, moov_at)[0]
        out = bytearray(base[:mvex_at] + base[mvex_at + mvex_len:])
        struct.pack_into(">I", out, moov_at, moov_len - mvex_len)
        with pytest.raises(ValueError, match="duration/size"):
            parse_mp4_samples(bytes(out))

    def test_fragment_truncation_sweep_never_escapes_contract(self):
        data = build_fmp4(
            _samples(9),
            durations=[40 if k % 2 == 0 else 20 for k in range(9)],
            keyframes=[k % 3 == 0 for k in range(9)],
            ctts_offsets=[10 * (k % 3) for k in range(9)],
            samples_per_fragment=4)
        for cut in range(0, len(data), 5):
            try:
                parse_mp4_samples(data[:cut])
            except (ValueError, NotImplementedError, struct.error,
                    IndexError):
                pass
        import random as _random

        rng = _random.Random(1406)
        for _ in range(400):
            pos = rng.randrange(0, len(data))
            bad = bytearray(data)
            bad[pos] ^= 1 << rng.randrange(8)
            try:
                parse_mp4_samples(bytes(bad))
            except (ValueError, NotImplementedError, struct.error,
                    IndexError):
                pass


class TestMalformed:
    def test_no_moov(self):
        assert parse_mp4_samples(b"\x00\x00\x00\x08free") == ([], [])
        assert parse_mp4_samples(b"") == ([], [])

    def test_oversized_sample_raises(self):
        # enlarge one stsz entry so the last sample's claimed bytes
        # extend past EOF (stsz layout: fourcc, ver/flags, fixed,
        # count, then the size table)
        data = build_mp4(_samples(4))
        bad = bytearray(data)
        idx = data.find(b"stsz")
        struct.pack_into(">I", bad, idx + 16 + 4 * 2, 1 << 20)
        with pytest.raises(ValueError, match="EOF"):
            parse_mp4_samples(bytes(bad))

    def test_stts_count_mismatch_raises(self):
        data = bytearray(build_mp4(_samples(4)))
        idx = data.find(b"stts")
        # shrink the single run's count 4 -> 2
        struct.pack_into(">I", data, idx + 4 + 4 + 4, 2)
        with pytest.raises(ValueError, match="stts"):
            parse_mp4_samples(bytes(data))

    def test_stbl_rejects_stts_stsz_mismatch_before_expanding(self):
        # the sample tables are checked against each other inside
        # _parse_stbl, before the stts runs are expanded per sample: a
        # corrupted run count must raise, not size an allocation
        from xcube_resampling_spark.extensions.mp4demux import (
            _find,
            _parse_stbl,
        )

        data = bytearray(build_mp4(_samples(6)))
        idx = data.find(b"stts")
        # stts layout: fourcc, ver/flags(4), count(4), then
        # (sample_count, delta) runs -- one run of 6 -> 7
        struct.pack_into(">I", data, idx + 4 + 4 + 4, 7)
        data = bytes(data)
        stbl = data.find(b"stbl") - 4
        with pytest.raises(ValueError, match="stts runs cover 7 samples, "
                                             "stsz has 6"):
            _parse_stbl(data, *_find(data, stbl, len(data), b"stbl"))

    def test_stz2_refused(self):
        data = bytearray(build_mp4(_samples(3)))
        idx = data.find(b"stsz")
        data[idx:idx + 4] = b"stz2"
        with pytest.raises(NotImplementedError):
            parse_mp4_samples(bytes(data))

    def test_stss_entry_out_of_range_raises_valueerror(self):
        # a sync entry > n_samples must be a ValueError (degradable),
        # never an IndexError out of the keyframe array
        data = bytearray(build_mp4(
            _samples(4), keyframes=[True, False, False, True]))
        idx = data.find(b"stss")
        # stss layout: fourcc, ver/flags(4), count(4), entries...
        struct.pack_into(">I", data, idx + 4 + 4 + 4, 99)
        with pytest.raises(ValueError, match="stss"):
            parse_mp4_samples(bytes(data))

    def test_stss_entry_zero_raises_valueerror(self):
        data = bytearray(build_mp4(
            _samples(4), keyframes=[True, False, False, True]))
        idx = data.find(b"stss")
        struct.pack_into(">I", data, idx + 4 + 4 + 4, 0)
        with pytest.raises(ValueError, match="stss"):
            parse_mp4_samples(bytes(data))

    def test_stsc_first_run_not_chunk_one_raises(self):
        # first_chunk of the first run patched 1 -> 2: leading chunks
        # are uncovered; must raise, not read uninitialized memory
        data = bytearray(build_mp4(_samples(8), chunk_size=3))
        idx = data.find(b"stsc")
        # stsc layout: fourcc, ver/flags(4), count(4), then
        # (first_chunk, samples_per_chunk, desc_idx) triples
        struct.pack_into(">I", data, idx + 4 + 4 + 4, 2)
        with pytest.raises(ValueError, match="stsc"):
            parse_mp4_samples(bytes(data))

    def test_stsc_non_increasing_first_chunk_raises(self):
        # 8 samples @ chunk_size 3 emits two stsc runs (1,3) (3,2);
        # patch the second run's first_chunk to 1 (non-increasing)
        data = bytearray(build_mp4(_samples(8), chunk_size=3))
        idx = data.find(b"stsc")
        struct.pack_into(">I", data, idx + 4 + 4 + 4 + 12, 1)
        with pytest.raises(ValueError, match="increasing"):
            parse_mp4_samples(bytes(data))

    def test_truncated_fullbox_raises_valueerror(self):
        from xcube_resampling_spark.extensions.mp4demux import \
            _full_box
        # an 8-byte FullBox at EOF has no version/flags to read
        with pytest.raises(ValueError, match="truncated"):
            _full_box(b"\x00\x00\x00\x08stts", 8)

    def test_truncation_sweep_never_escapes_contract(self):
        # every prefix of a real file must either parse or raise one
        # of the demux-catchable types -- the degrade-to-error-row
        # contract for 100-TB corpus routing
        data = build_mp4(_samples(6), keyframes=[True] * 6,
                         ctts_offsets=[0, 10, 20] * 2)
        for cut in range(0, len(data), 7):
            try:
                parse_mp4_samples(data[:cut])
            except (ValueError, NotImplementedError, struct.error,
                    IndexError):
                pass
        # seeded single-byte corruptions over the moov region
        import random as _random
        rng = _random.Random(1405)
        moov_at = data.find(b"moov") - 4
        for _ in range(400):
            pos = rng.randrange(moov_at, len(data))
            bad = bytearray(data)
            bad[pos] ^= 1 << rng.randrange(8)
            try:
                parse_mp4_samples(bytes(bad))
            except (ValueError, NotImplementedError, struct.error,
                    IndexError):
                pass


class TestSparkDemux:
    def test_demux_matches_local_parse(self, spark):
        import pandas as pd

        rows = []
        for mid in range(6):
            samples = [
                f"m{mid}s{k}".encode() * (k + 1) for k in range(5)
            ]
            rows.append((mid, build_mp4(
                samples,
                durations=[40 if k % 2 == 0 else 20
                           for k in range(5)],
                keyframes=[k % 2 == 0 for k in range(5)],
            )))
        media = spark.createDataFrame(
            pd.DataFrame(rows, columns=["media_id", "payload"]))
        got = demux_mp4(media).orderBy("media_id", "sample_idx") \
            .collect()
        assert len(got) == 30
        for r in got:
            assert r.error is None
            assert r.kind == "vide" and r.codec == "avc1"
            assert r.dts == 30 * r.sample_idx + 10 * (r.sample_idx % 2)
            assert r.keyframe == (r.sample_idx % 2 == 0)
            assert bytes(r.data) == \
                f"m{r.media_id}s{r.sample_idx}".encode() \
                * (r.sample_idx + 1)

    def test_demux_is_shuffle_free(self, spark):
        import pandas as pd

        media = spark.createDataFrame(pd.DataFrame(
            [(0, build_mp4(_samples(3)))],
            columns=["media_id", "payload"]))
        df = demux_mp4(media)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_malformed_payload_degrades_to_error_row(self, spark):
        import pandas as pd

        bad = bytearray(build_mp4(_samples(3)))
        idx = bad.find(b"stts")
        struct.pack_into(">I", bad, idx + 4 + 4 + 4, 1)
        media = spark.createDataFrame(pd.DataFrame(
            [(0, bytes(bad)), (1, build_mp4(_samples(2)))],
            columns=["media_id", "payload"]))
        got = demux_mp4(media).orderBy("media_id", "sample_idx") \
            .collect()
        errs = [r for r in got if r.error is not None]
        ok = [r for r in got if r.error is None]
        assert len(errs) == 1 and errs[0].media_id == 0
        assert "stts" in errs[0].error
        assert len(ok) == 2 and all(r.media_id == 1 for r in ok)
