"""Pure-stdlib container codecs for the multimodal tier: PNG (zlib +
numpy per-row unfilter) and WAV (RIFF struct parse).

This container ships no imaging/audio libraries, but PNG and WAV need
none: PNG's only compression is DEFLATE (stdlib ``zlib``) plus five
per-row byte filters, and WAV PCM is a struct-described sample buffer.
Both directions are implemented so round-trip tests need no external
fixtures; MP4 stays honestly stubbed in multimodal.py (a real ISO-BMFF
/ H.264 stack is out of scope for stdlib).

Supported PNG subset (the overwhelmingly common case): 8-bit depth,
color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA), non-interlaced.
All five filter types (None/Sub/Up/Average/Paeth) decode; the encoder
can emit any fixed filter type so tests exercise every unfilter path.

Supported WAV subset: RIFF/WAVE with a PCM ``fmt `` chunk (format 1),
16-bit samples, any channel count and sample rate; extra chunks (LIST,
fact, ...) are skipped per the RIFF contract.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS_OF_COLOR_TYPE = {0: 1, 2: 3, 4: 2, 6: 4}
_COLOR_TYPE_OF_CHANNELS = {1: 0, 3: 2, 2: 4, 4: 6}


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """uint8 (H, W[, C]) array -> PNG bytes (8-bit, non-interlaced).

    ``filter_type`` applies one fixed filter to every scanline (0-4);
    non-zero values exist to exercise the decoder's unfilter paths in
    round-trip tests — 0 is the normal emit path.
    """
    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    if c not in _COLOR_TYPE_OF_CHANNELS:
        raise ValueError(f"unsupported channel count {c}")
    if not 0 <= filter_type <= 4:
        raise ValueError("filter_type must be 0..4")
    bpp = c  # bytes per pixel at bit depth 8
    raw = bytearray()
    prev = np.zeros((w, c), dtype=np.uint8)
    for y in range(h):
        row = a[y]
        if filter_type == 0:
            filt = row
        else:
            left = np.zeros_like(row)
            left[1:] = row[:-1]
            up = prev
            upleft = np.zeros_like(row)
            upleft[1:] = prev[:-1]
            r16 = row.astype(np.int16)
            if filter_type == 1:  # Sub
                filt = (r16 - left).astype(np.uint8)
            elif filter_type == 2:  # Up
                filt = (r16 - up).astype(np.uint8)
            elif filter_type == 3:  # Average
                filt = (r16 - (left.astype(np.int16) + up) // 2).astype(np.uint8)
            else:  # Paeth
                filt = (r16 - _paeth(left, up, upleft)).astype(np.uint8)
        raw.append(filter_type)
        raw.extend(filt.tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE_OF_CHANNELS[c], 0, 0, 0)
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(left: np.ndarray, up: np.ndarray, upleft: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized over a scanline (int16 in/out)."""
    a = left.astype(np.int16)
    b = up.astype(np.int16)
    c = upleft.astype(np.int16)
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.int16)


def png_decode(payload: bytes) -> np.ndarray:
    """PNG bytes -> uint8 (H, W, C) array.

    Real decoder for the 8-bit non-interlaced subset: chunk walk with
    CRC validation, zlib inflate, then per-row unfilter — Sub/Average/
    Paeth reconstruct left-to-right (the spec's sequential dependency),
    with the per-row arithmetic in numpy.
    """
    if payload[: len(PNG_MAGIC)] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = len(PNG_MAGIC)
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color_type, comp, filt_method, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth} (8 only)")
    if color_type not in _CHANNELS_OF_COLOR_TYPE:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if comp != 0 or filt_method != 0:
        raise ValueError("unsupported PNG compression/filter method")
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    c = _CHANNELS_OF_COLOR_TYPE[color_type]
    stride = w * c
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"PNG data length mismatch: {len(raw)} != {h}*(1+{stride})"
        )
    out = np.zeros((h, w, c), dtype=np.uint8)
    prev = np.zeros((w, c), dtype=np.int16)
    bpp = c
    for y in range(h):
        line = raw[y * (1 + stride) : (y + 1) * (1 + stride)]
        ftype = line[0]
        filt = np.frombuffer(line[1:], dtype=np.uint8).reshape(w, c).astype(np.int16)
        if ftype == 0:
            recon = filt
        elif ftype == 1:  # Sub: sequential left dependency
            recon = filt.copy()
            for x in range(1, w):
                recon[x] = (recon[x] + recon[x - 1]) & 0xFF
        elif ftype == 2:  # Up: fully vectorized
            recon = (filt + prev) & 0xFF
        elif ftype == 3:  # Average
            recon = filt.copy()
            recon[0] = (recon[0] + prev[0] // 2) & 0xFF
            for x in range(1, w):
                recon[x] = (recon[x] + (recon[x - 1] + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            recon = filt.copy()
            zero = np.zeros(c, dtype=np.int16)
            for x in range(w):
                left = recon[x - 1] if x else zero
                upleft = prev[x - 1] if x else zero
                recon[x] = (recon[x] + _paeth(left, prev[x], upleft)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype} in row {y}")
        out[y] = recon.astype(np.uint8)
        prev = recon
    return out


WAV_RIFF = b"RIFF"
WAV_WAVE = b"WAVE"


def wav_encode(
    samples: np.ndarray, sample_rate: int = 16000, channels: int | None = None
) -> bytes:
    """int16 array of shape (n,) or (n, channels) -> WAV (PCM16) bytes."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if channels is not None and channels != ch:
        raise ValueError(f"channels={channels} but samples have {ch}")
    data = s.tobytes()  # interleaved little-endian frames
    byte_rate = sample_rate * ch * 2
    block_align = ch * 2
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, byte_rate, block_align, 16
    )
    body = (
        WAV_WAVE
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return WAV_RIFF + struct.pack("<I", len(body)) + body


def wav_decode(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (int16 samples, sample_rate); mono returns shape
    (n,), multi-channel (n, channels). Skips non-fmt/data chunks."""
    if payload[:4] != WAV_RIFF or payload[8:12] != WAV_WAVE:
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            data = body
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_format, ch, rate, _byte_rate, _block_align, bits = fmt
    if audio_format != 1:
        raise ValueError(f"unsupported WAV format {audio_format} (PCM only)")
    if bits != 16:
        raise ValueError(f"unsupported WAV bit depth {bits} (16 only)")
    if len(data) % (2 * ch):
        raise ValueError("WAV data length not a whole number of frames")
    s = np.frombuffer(data, dtype="<i2").astype(np.int16).reshape(-1, ch)
    return (s[:, 0] if ch == 1 else s), rate


# --- MP4 / ISO-BMFF metadata (VERDICT r4 #6) -------------------------
#
# Full video DECODE stays honestly out of scope (an H.264 stack needs
# ffmpeg), but the CONTAINER is just a box tree — size-prefixed tagged
# chunks, like RIFF with nesting — so the metadata a data pipeline
# actually filters and routes on (duration, track count, handler
# kinds, codec fourccs, visual dimensions) parses with stdlib struct
# alone. Subset: ftyp + moov(mvhd, trak(tkhd, mdia(mdhd, hdlr,
# minf/stbl/stsd))) with version-0 or version-1 full boxes and 32- or
# 64-bit box sizes; unknown sibling boxes are skipped per the ISO
# contract. Reference analogue: the metadata-projection half of the
# reference's record readers (SURVEY §3.1) — read the header, not the
# payload.

MP4_BRAND = b"isom"

_MP4_UNITY_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def _mp4_full(tag: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _mp4_box(tag, bytes([version]) + flags.to_bytes(3, "big") + body)


def _mp4_box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + tag + body


def mp4_encode_metadata(
    tracks: list[dict],
    movie_duration_ms: int,
    timescale: int = 1000,
    brand: bytes = MP4_BRAND,
) -> bytes:
    """Minimal valid ISO-BMFF container carrying ONLY metadata (the
    hand-built box writer the round-trip tests and the closed-form
    gate fixture use; mdat is an empty placeholder — no samples).

    ``tracks``: dicts with ``handler`` (``"vide"``/``"soun"``),
    ``codec`` (4-char fourcc), ``duration_ms``, and for video
    ``width``/``height`` in pixels. Track ids are assigned 1..n.
    """
    def sample_entry(codec: bytes) -> bytes:
        # size + fourcc + 6 reserved bytes + 2-byte data_ref_index
        return _mp4_box(codec, b"\x00" * 6 + struct.pack(">H", 1))

    traks = b""
    for idx, tr in enumerate(tracks):
        handler = tr["handler"].encode() if isinstance(tr["handler"], str) else tr["handler"]
        codec = tr["codec"].encode() if isinstance(tr["codec"], str) else tr["codec"]
        dur = (tr["duration_ms"] * timescale) // 1000
        w, h = int(tr.get("width") or 0), int(tr.get("height") or 0)
        tkhd = _mp4_full(
            b"tkhd",
            0,
            7,  # enabled | in_movie | in_preview
            struct.pack(">II", 0, 0)          # creation, modification
            + struct.pack(">II", idx + 1, 0)  # track_id, reserved
            + struct.pack(">I", dur)
            + b"\x00" * 8                     # reserved
            + struct.pack(">hhhh", 0, 0, 0 if handler == b"vide" else 0x0100, 0)
            + _MP4_UNITY_MATRIX
            + struct.pack(">II", w << 16, h << 16),  # 16.16 fixed
        )
        mdhd = _mp4_full(
            b"mdhd",
            0,
            0,
            struct.pack(">II", 0, 0)
            + struct.pack(">II", timescale, dur)
            + struct.pack(">HH", 0x55C4, 0),  # language "und"
        )
        hdlr = _mp4_full(
            b"hdlr", 0, 0,
            b"\x00" * 4 + handler + b"\x00" * 12 + b"linkgraph\x00",
        )
        stsd = _mp4_full(
            b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry(codec)
        )
        stbl = _mp4_box(b"stbl", stsd)
        minf = _mp4_box(b"minf", stbl)
        mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
        traks += _mp4_box(b"trak", tkhd + mdia)

    mvhd = _mp4_full(
        b"mvhd",
        0,
        0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, (movie_duration_ms * timescale) // 1000)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)      # volume 1.0
        + b"\x00" * 10
        + _MP4_UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", len(tracks) + 1),  # next_track_id
    )
    ftyp = _mp4_box(b"ftyp", brand + struct.pack(">I", 0) + brand)
    moov = _mp4_box(b"moov", mvhd + traks)
    mdat = _mp4_box(b"mdat", b"")
    return ftyp + moov + mdat


def _mp4_walk(buf: bytes, start: int, end: int):
    """Yield (tag, body_start, body_end) for each box in [start, end);
    handles 32-bit sizes, 64-bit largesize (size == 1), and
    to-end-of-enclosure (size == 0)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("ISO-BMFF: truncated largesize box")
            (size,) = struct.unpack(">Q", buf[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < (body - pos) or pos + size > end:
            raise ValueError(f"ISO-BMFF: bad box size {size} for {tag!r}")
        yield tag, body, pos + size
        pos += size


def _mp4_find(buf: bytes, start: int, end: int, tag: bytes):
    for t, b, e in _mp4_walk(buf, start, end):
        if t == tag:
            return b, e
    return None


def _mp4_need(box: tuple[int, int], n: int, tag: str) -> None:
    """Refuse a box whose body is shorter than the ``n`` bytes read from
    it — a size-valid but truncated box must not reach ``struct``."""
    if box[1] - box[0] < n:
        raise ValueError(
            f"ISO-BMFF: {tag} body is {box[1] - box[0]} bytes, needs {n}"
        )


def _mp4_fullbox(
    buf: bytes, box: tuple[int, int], tag: str, need_v0: int, need_v1: int
) -> tuple[int, int]:
    """(version, first-field offset) of a full box body, after checking
    the body holds ``need_v0`` (version 0) or ``need_v1`` (version 1)
    bytes."""
    _mp4_need(box, 4, tag)
    version = buf[box[0]]
    _mp4_need(box, need_v1 if version == 1 else need_v0, tag)
    return version, box[0] + 4


def mp4_metadata(payload: bytes) -> dict:
    """ISO-BMFF box walk -> container metadata dict:
    ``{"brand", "timescale", "duration_ms", "n_tracks", "tracks":
    [{"track_id", "handler", "codec", "duration_ms", "width",
    "height"}, ...]}``. Raises ValueError on anything that is not a
    well-formed ftyp+moov container."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no ftyp)")
    top = list(_mp4_walk(payload, 0, len(payload)))
    brand = payload[8:12].decode("latin-1")
    moov = next(((b, e) for t, b, e in top if t == b"moov"), None)
    if moov is None:
        raise ValueError("ISO-BMFF: no moov box")
    mb, me = moov
    mvhd = _mp4_find(payload, mb, me, b"mvhd")
    if mvhd is None:
        raise ValueError("ISO-BMFF: no mvhd box")
    # version/flags(4) + times(8|16) + timescale(4) + duration(4|8)
    v, p = _mp4_fullbox(payload, mvhd, "mvhd", 20, 32)
    if v == 1:
        timescale, duration = struct.unpack(">IQ", payload[p + 16 : p + 28])
    else:
        timescale, duration = struct.unpack(">II", payload[p + 8 : p + 16])
    if timescale == 0:
        raise ValueError("ISO-BMFF: zero movie timescale")

    tracks = []
    for t, b, e in _mp4_walk(payload, mb, me):
        if t != b"trak":
            continue
        tk = _mp4_find(payload, b, e, b"tkhd")
        md = _mp4_find(payload, b, e, b"mdia")
        if tk is None or md is None:
            raise ValueError("ISO-BMFF: trak missing tkhd or mdia")
        # ... + track_id, reserved, duration, 52 bytes to width/height(8)
        v, p = _mp4_fullbox(payload, tk, "tkhd", 84, 96)
        if v == 1:
            track_id = struct.unpack(">I", payload[p + 16 : p + 20])[0]
            tdur = struct.unpack(">Q", payload[p + 24 : p + 32])[0]
            geo = p + 32
        else:
            track_id = struct.unpack(">I", payload[p + 8 : p + 12])[0]
            tdur = struct.unpack(">I", payload[p + 16 : p + 20])[0]
            geo = p + 20
        # reserved(8) + layer/alt/volume/reserved(8) + matrix(36)
        w16, h16 = struct.unpack(">II", payload[geo + 52 : geo + 60])
        mdhd = _mp4_find(payload, md[0], md[1], b"mdhd")
        hdlr = _mp4_find(payload, md[0], md[1], b"hdlr")
        if mdhd is None or hdlr is None:
            raise ValueError("ISO-BMFF: mdia missing mdhd or hdlr")
        _mp4_need(hdlr, 12, "hdlr")  # version/flags, pre_defined, type
        handler = payload[hdlr[0] + 8 : hdlr[0] + 12].decode("latin-1")
        codec = None
        minf = _mp4_find(payload, md[0], md[1], b"minf")
        if minf is not None:
            stbl = _mp4_find(payload, minf[0], minf[1], b"stbl")
            if stbl is not None:
                stsd = _mp4_find(payload, stbl[0], stbl[1], b"stsd")
                if stsd is not None:
                    _, sp = _mp4_fullbox(payload, stsd, "stsd", 8, 8)
                    (n_entries,) = struct.unpack(">I", payload[sp : sp + 4])
                    if n_entries >= 1:
                        # first entry: size(4) + format(4)
                        _mp4_need(stsd, 16, "stsd")
                        codec = payload[sp + 8 : sp + 12].decode("latin-1")
        tracks.append(
            {
                "track_id": int(track_id),
                "handler": handler,
                "codec": codec,
                "duration_ms": (int(tdur) * 1000) // timescale,
                "width": int(w16 >> 16),
                "height": int(h16 >> 16),
            }
        )
    return {
        "brand": brand,
        "timescale": int(timescale),
        "duration_ms": (int(duration) * 1000) // timescale,
        "n_tracks": len(tracks),
        "tracks": tracks,
    }
