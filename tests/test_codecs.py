"""PNG/WAV container codecs (pipeline/codecs.py) and their wiring into
the multimodal decode tier (VERDICT r3 item #3: real codecs for the
containers stdlib can handle; MP4 stays an honest stub)."""

import numpy as np
import pytest

from linkgraph.pipeline.codecs import (
    png_decode,
    png_encode,
    wav_decode,
    wav_encode,
)


class TestPNG:
    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_roundtrip_all_filters(self, filter_type):
        rng = np.random.default_rng(13 + filter_type)
        for shape in [(6, 9, 3), (5, 5), (7, 3, 4), (1, 8, 2), (4, 1, 3)]:
            px = rng.integers(0, 256, size=shape, dtype=np.uint8)
            dec = png_decode(png_encode(px, filter_type=filter_type))
            ref = px if px.ndim == 3 else px[:, :, None]
            assert np.array_equal(dec, ref), (shape, filter_type)

    def test_crc_corruption_detected(self):
        px = np.zeros((4, 4, 3), dtype=np.uint8)
        b = bytearray(png_encode(px))
        b[20] ^= 0x01  # inside IHDR body
        with pytest.raises(ValueError, match="CRC"):
            png_decode(bytes(b))

    def test_rejects_non_png(self):
        with pytest.raises(ValueError, match="not a PNG"):
            png_decode(b"JFIF" * 10)

    def test_gradient_image_content(self):
        """Deterministic (non-random) content catches off-by-one pixel
        placement that random round-trips might mask."""
        h, w = 16, 24
        px = (np.arange(h * w * 3) % 251).astype(np.uint8).reshape(h, w, 3)
        for ft in range(5):
            dec = png_decode(png_encode(px, filter_type=ft))
            assert int(dec.astype(np.int64).sum()) == sum(
                k % 251 for k in range(h * w * 3)
            )
            assert np.array_equal(dec, px)


class TestWAV:
    def test_roundtrip_mono_and_multichannel(self):
        rng = np.random.default_rng(29)
        for n, ch, rate in [(50, 1, 16000), (33, 2, 8000), (8, 4, 44100)]:
            s = rng.integers(-32768, 32768, size=(n, ch), dtype=np.int16)
            s_in = s[:, 0] if ch == 1 else s
            dec, r = wav_decode(wav_encode(s_in, rate))
            assert r == rate and np.array_equal(dec, s_in)

    def test_skips_extra_chunks(self):
        import struct

        s = np.arange(10, dtype=np.int16)
        payload = bytearray(wav_encode(s, 16000))
        # splice a LIST chunk between fmt and data
        insert_at = payload.index(b"data")
        extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
        payload[insert_at:insert_at] = extra
        payload[4:8] = struct.pack("<I", len(payload) - 8)
        dec, r = wav_decode(bytes(payload))
        assert np.array_equal(dec, s)

    def test_rejects_non_pcm(self):
        import struct

        s = np.arange(4, dtype=np.int16)
        payload = bytearray(wav_encode(s, 16000))
        fmt_at = payload.index(b"fmt ") + 8
        payload[fmt_at:fmt_at + 2] = struct.pack("<H", 3)  # IEEE float
        with pytest.raises(ValueError, match="PCM"):
            wav_decode(bytes(payload))


class TestDispatcher:
    def test_magic_dispatch(self):
        from linkgraph.pipeline.multimodal import (
            decode_media,
            encode_raw_audio,
            encode_raw_image,
        )

        px = (np.arange(48) % 7).astype(np.uint8).reshape(4, 4, 3)
        s = np.arange(20, dtype=np.int16)
        for payload, want_kind in [
            (png_encode(px), "image"),
            (encode_raw_image(px), "image"),
            (wav_encode(s, 16000), "audio"),
            (encode_raw_audio(s, 16000), "audio"),
        ]:
            kind, arr, _ = decode_media(payload)
            assert kind == want_kind
        with pytest.raises(ValueError, match="magic"):
            decode_media(b"\x00" * 32)

    def test_mp4_metadata_vector(self):
        """MP4 in the dispatcher yields the metadata-invariant vector
        from the box walk (frame decode stays out of scope); a
        degenerate ftyp-only container errors instead of producing a
        wrong row."""
        from linkgraph.pipeline.codecs import mp4_encode_metadata
        from linkgraph.pipeline.multimodal import decode_media

        p = mp4_encode_metadata(
            [
                {"handler": "vide", "codec": "avc1", "duration_ms": 4500,
                 "width": 640, "height": 360},
                {"handler": "soun", "codec": "mp4a", "duration_ms": 4500},
            ],
            movie_duration_ms=4500,
        )
        kind, vec, rate = decode_media(p)
        assert kind == "video" and rate is None
        assert vec.tolist() == [
            4500, 1000, 2, 9000, 640, 360,
            sum(b"avc1") + sum(b"mp4a"),
        ]
        with pytest.raises(ValueError, match="moov"):
            decode_media(b"\x00\x00\x00\x18ftypisom" + b"\x00" * 16)


class TestMP4:
    def _payload(self):
        from linkgraph.pipeline.codecs import mp4_encode_metadata

        return mp4_encode_metadata(
            [
                {"handler": "vide", "codec": "avc1", "duration_ms": 2000,
                 "width": 320, "height": 240},
                {"handler": "soun", "codec": "mp4a", "duration_ms": 2000},
                {"handler": "vide", "codec": "hvc1", "duration_ms": 1000,
                 "width": 64, "height": 48},
            ],
            movie_duration_ms=2000,
        )

    def test_roundtrip_vs_hand_built_writer(self):
        from linkgraph.pipeline.codecs import mp4_metadata

        m = mp4_metadata(self._payload())
        assert m["brand"] == "isom"
        assert (m["timescale"], m["duration_ms"], m["n_tracks"]) == (1000, 2000, 3)
        assert [t["track_id"] for t in m["tracks"]] == [1, 2, 3]
        assert [t["handler"] for t in m["tracks"]] == ["vide", "soun", "vide"]
        assert [t["codec"] for t in m["tracks"]] == ["avc1", "mp4a", "hvc1"]
        assert [t["duration_ms"] for t in m["tracks"]] == [2000, 2000, 1000]
        assert [(t["width"], t["height"]) for t in m["tracks"]] == [
            (320, 240), (0, 0), (64, 48)
        ]

    def test_largesize_box(self):
        """size == 1 + 64-bit largesize on the moov box parses
        identically (the >4 GiB-container spelling)."""
        import struct

        from linkgraph.pipeline.codecs import mp4_metadata

        p = self._payload()
        base = mp4_metadata(p)
        # locate moov (second top-level box, after the 24-byte ftyp)
        (ftyp_size,) = struct.unpack(">I", p[:4])
        (moov_size,) = struct.unpack(">I", p[ftyp_size : ftyp_size + 4])
        moov_body = p[ftyp_size + 8 : ftyp_size + moov_size]
        rebuilt = (
            p[:ftyp_size]
            + struct.pack(">I", 1)
            + b"moov"
            + struct.pack(">Q", 16 + len(moov_body))
            + moov_body
            + p[ftyp_size + moov_size :]
        )
        assert mp4_metadata(rebuilt) == base

    def test_truncation_detected(self):
        import pytest

        from linkgraph.pipeline.codecs import mp4_metadata

        p = self._payload()
        with pytest.raises(ValueError, match="size"):
            mp4_metadata(p[: len(p) - 20])

    @pytest.mark.parametrize("body_len", [0, 3, 12, 19])
    def test_short_mvhd_raises_value_error(self, body_len):
        """A size-valid mvhd whose body stops before the timescale and
        duration fields is a ValueError, not a struct.error."""
        import struct

        from linkgraph.pipeline.codecs import mp4_metadata

        def box(tag, body):
            return struct.pack(">I", 8 + len(body)) + tag + body

        ftyp = box(b"ftyp", b"isom" + b"\x00" * 4 + b"isom")
        moov = box(b"moov", box(b"mvhd", b"\x00" * body_len))
        with pytest.raises(ValueError, match="mvhd body"):
            mp4_metadata(ftyp + moov)

    def test_spark_mp4_summary_closed_forms(self, spark):
        """synth_mp4_media's closed forms survive the Arrow round trip
        through mp4_summary."""
        from linkgraph.pipeline.multimodal import mp4_summary, synth_mp4_media

        rows = {
            r["media_id"]: r
            for r in mp4_summary(synth_mp4_media(spark, n=9)).collect()
        }
        assert len(rows) == 9
        for i, r in rows.items():
            n_tracks = 1 + i % 3
            dur = 500 * (1 + i % 7)
            assert (r["duration_ms"], r["n_tracks"]) == (dur, n_tracks)
            assert r["tracks_ms"] == dur * n_tracks
            vide = [t for t in range(n_tracks) if t % 2 == 0]
            assert r["width_sum"] == sum(16 * (2 + (i + t) % 5) for t in vide)
            assert r["height_sum"] == sum(16 * (1 + (i + t) % 3) for t in vide)
            assert r["codec_bytes"] == sum(
                sum(b"avc1") if t % 2 == 0 else sum(b"mp4a")
                for t in range(n_tracks)
            )


class TestCodecMediaSpark:
    def test_decode_summary_closed_forms(self, spark):
        from linkgraph.pipeline.multimodal import (
            decode_summary,
            synth_codec_media,
        )

        rows = decode_summary(synth_codec_media(spark, n=10)).collect()
        got = {r["media_id"]: (r["kind"], r["n_units"], r["content_sum"])
               for r in rows}
        for i in range(10):
            if i % 2 == 0:
                h, w = 8 * (2 + i % 3), 8 * (2 + (i // 2) % 3)
                exp = ("image", h * w, sum(k % 251 for k in range(h * w * 3)))
            else:
                ns = 800 * (1 + i % 5)
                exp = ("audio", ns, sum((k * 37) % 4001 - 2000
                                        for k in range(ns)))
            assert got[i] == exp, i

    def test_extract_features_raw_tier_on_codecs(self, spark):
        from linkgraph.pipeline.multimodal import (
            extract_features,
            synth_codec_media,
        )

        out = extract_features(
            synth_codec_media(spark, n=8), decode_stub="raw"
        ).collect()
        assert len(out) == 8
        assert all(len(r["feature"]) == 8 for r in out)
