"""Pure-Python ISO BMFF (MP4) container walk — encoded-sample extraction,
no av/ffmpeg.

Round 4 left video "gated on a demuxer". That conflated two layers: PIXEL
decode genuinely needs an H.264/H.265 codec (still gated), but SAMPLE
extraction — which encoded frame bytes live where, which are sync
(key) frames, what the track geometry/codec/duration are — is pure box
arithmetic from the public container spec (ISO/IEC 14496-12 box grammar:
[size u32][fourcc][payload], size 1 → u64 largesize, size 0 → to EOF).
A training pipeline shipping frames to a GPU decoder needs exactly this
layer: keyframe bytes + geometry, not CPU pixel decode.

Implemented here, from the spec:
- generic (possibly 64-bit-sized) box walker over nested containers
- ``mp4_samples``: the real sample-to-file-offset resolution — stsz
  (sizes) × stsc (chunk runs: first_chunk ranges → samples per chunk) ×
  stco/co64 (chunk offsets) × stss (sync table; absent ⇒ all sync)
- ``mux_mp4``: a minimal single-track muxer (ftyp + mdat + moov) so
  tests and the m7 oracle can build deterministic files and replay the
  offset arithmetic in SQL; chunking configurable so stsc resolution is
  genuinely exercised.

The GIF tier (operators/multimodal.split_gif_frames) established the
one-row→N-rows frame contract; ``sample_video_frames`` now implements it
for MP4 on top of this module. webm/Matroska (EBML) stays gated.

Reference parity: the reference stores attachments opaquely with
metadata only (document_references.py:125-153); this tier is the
engine's multimodal-training extension.
"""

from __future__ import annotations

import struct


def walk_boxes(data: bytes, start: int = 0, end: int | None = None):
    """Yield (fourcc, payload_start, payload_end) for each top-level box in
    data[start:end]; validates sizes, supports 64-bit largesize."""
    end = len(data) if end is None else end
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        fourcc = data[pos + 4 : pos + 8]
        header = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            header = 16
        elif size == 0:
            size = end - pos
        if size < header or pos + size > end:
            raise ValueError(f"bad box size {size} for {fourcc!r}")
        yield fourcc, pos + header, pos + size
        pos += size
    if pos != end:
        raise ValueError("trailing bytes after last box")


def _find(data: bytes, path: list[bytes], start: int, end: int):
    """All (payload_start, payload_end) spans reached by descending the
    container path (e.g. [b'moov', b'trak'] yields every trak)."""
    spans = [(start, end)]
    for fourcc in path:
        nxt = []
        for s, e in spans:
            for fc, ps, pe in walk_boxes(data, s, e):
                if fc == fourcc:
                    nxt.append((ps, pe))
        spans = nxt
    return spans


def mp4_samples(data: bytes, track: int = 0) -> list[dict]:
    """Resolve every sample of one track to its bytes: [{index, offset,
    size, keyframe}]. This is the real stsz × stsc × stco(/co64) × stss
    arithmetic (14496-12 §8.7): chunk runs map sample index → chunk,
    offsets accumulate within a chunk, stss marks sync samples (absent ⇒
    every sample is sync)."""
    moov = _find(data, [b"moov"], 0, len(data))
    if not moov:
        raise ValueError("no moov box")
    traks = _find(data, [b"trak"], *moov[0])
    if track >= len(traks):
        raise ValueError(f"track {track} out of range ({len(traks)} tracks)")
    stbls = _find(data, [b"mdia", b"minf", b"stbl"], *traks[track])
    if not stbls:
        raise ValueError("track has no stbl")
    ss, se = stbls[0]

    sizes = None
    chunk_offsets = None
    stsc_runs = None  # [(first_chunk, samples_per_chunk)]
    sync = None
    for fc, ps, pe in walk_boxes(data, ss, se):
        if fc == b"stsz":
            uniform, count = struct.unpack(">II", data[ps + 4 : ps + 12])
            if uniform:
                sizes = [uniform] * count
            else:
                sizes = list(
                    struct.unpack(f">{count}I", data[ps + 12 : ps + 12 + 4 * count])
                )
        elif fc in (b"stco", b"co64"):
            (count,) = struct.unpack(">I", data[ps + 4 : ps + 8])
            fmt, width = (">I", 4) if fc == b"stco" else (">Q", 8)
            chunk_offsets = [
                struct.unpack(fmt, data[ps + 8 + width * i : ps + 8 + width * (i + 1)])[0]
                for i in range(count)
            ]
        elif fc == b"stsc":
            (count,) = struct.unpack(">I", data[ps + 4 : ps + 8])
            stsc_runs = []
            for i in range(count):
                first, per_chunk, _desc = struct.unpack(
                    ">III", data[ps + 8 + 12 * i : ps + 20 + 12 * i]
                )
                stsc_runs.append((first, per_chunk))
        elif fc == b"stss":
            (count,) = struct.unpack(">I", data[ps + 4 : ps + 8])
            sync = {
                struct.unpack(">I", data[ps + 8 + 4 * i : ps + 12 + 4 * i])[0]
                for i in range(count)
            }
    if sizes is None or chunk_offsets is None or stsc_runs is None:
        raise ValueError("stbl missing stsz/stco/stsc")

    # expand stsc runs: samples-per-chunk for each chunk 1..n_chunks
    per_chunk = []
    for ri, (first, n_per) in enumerate(stsc_runs):
        last = (
            stsc_runs[ri + 1][0] - 1 if ri + 1 < len(stsc_runs) else len(chunk_offsets)
        )
        per_chunk.extend([n_per] * (last - first + 1))
    if len(per_chunk) != len(chunk_offsets):
        raise ValueError("stsc runs disagree with stco chunk count")

    out = []
    si = 0
    for ci, base in enumerate(chunk_offsets):
        offset = base
        for _ in range(per_chunk[ci]):
            if si >= len(sizes):
                break
            out.append(
                {
                    "index": si,
                    "offset": offset,
                    "size": sizes[si],
                    "keyframe": sync is None or (si + 1) in sync,
                }
            )
            offset += sizes[si]
            si += 1
    if si != len(sizes):
        raise ValueError(f"chunk map covers {si} of {len(sizes)} samples")
    return out


# --------------------------------------------------------------------------
# Minimal muxer (tests + m7 oracle synthesis)
# --------------------------------------------------------------------------


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + fourcc + payload


def mux_mp4(
    samples: list[bytes],
    keyframe_indices: list[int] | None = None,
    width: int = 64,
    height: int = 48,
    timescale: int = 30_000,
    sample_delta: int = 1_000,
    chunk_size: int = 2,
    codec: bytes = b"avc1",
) -> bytes:
    """Single-track MP4 from encoded sample payloads: ftyp + mdat + moov.
    ``chunk_size`` samples share a chunk (with a trailing partial chunk),
    so stsc has a real run table; ``keyframe_indices`` (0-based) become
    the stss sync table (None ⇒ no stss ⇒ all-sync)."""
    n = len(samples)
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat = _box(b"mdat", b"".join(samples))

    # chunk layout + absolute offsets (mdat payload starts after ftyp + 8)
    data_start = len(ftyp) + 8
    chunk_offsets = []
    sizes = [len(s) for s in samples]
    pos = data_start
    for i in range(0, n, chunk_size):
        chunk_offsets.append(pos)
        pos += sum(sizes[i : i + chunk_size])

    duration = n * sample_delta
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 0)  # version/flags
        + struct.pack(">II", 0, 0)  # creation/modification
        + struct.pack(">II", timescale, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)  # rate, volume, reserved
        + b"\x00" * 8  # reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24  # predefined
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = _box(
        b"tkhd",
        struct.pack(">B3B", 0, 0, 0, 7)  # version, flags=enabled|in-movie
        + struct.pack(">II", 0, 0)
        + struct.pack(">I4xI4x4x", 1, duration)  # track id, duration
        + struct.pack(">HH H2x", 0, 0, 0)  # layer, group, volume
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _box(
        b"mdhd",
        struct.pack(">B3x", 0)
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = _box(
        b"hdlr", struct.pack(">B3x", 0) + b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00"
    )
    stsd_entry = (
        struct.pack(">I", 86)
        + codec
        + b"\x00" * 6
        + struct.pack(">H", 1)  # data ref index
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame count
        + b"\x00" * 32
        + struct.pack(">H", 0x0018)  # depth
        + struct.pack(">h", -1)
    )
    stsd = _box(b"stsd", struct.pack(">B3xI", 0, 1) + stsd_entry)
    stts = _box(b"stts", struct.pack(">B3xIII", 0, 1, n, sample_delta))
    stsz = _box(
        b"stsz",
        struct.pack(">B3xII", 0, 0, n) + struct.pack(f">{n}I", *sizes),
    )
    # stsc: one run at samples_per_chunk=chunk_size, plus a final run if the
    # last chunk is partial
    runs = [(1, min(chunk_size, n) or 1)]
    if n and n % chunk_size:
        last_chunk = len(chunk_offsets)
        if last_chunk > 1:
            runs.append((last_chunk, n % chunk_size))
    stsc = _box(
        b"stsc",
        struct.pack(">B3xI", 0, len(runs))
        + b"".join(struct.pack(">III", fc, pc, 1) for fc, pc in runs),
    )
    stco = _box(
        b"stco",
        struct.pack(">B3xI", 0, len(chunk_offsets))
        + struct.pack(f">{len(chunk_offsets)}I", *chunk_offsets),
    )
    stbl_children = stsd + stts + stsc + stsz + stco
    if keyframe_indices is not None:
        stss_entries = sorted(i + 1 for i in keyframe_indices)
        stbl_children += _box(
            b"stss",
            struct.pack(">B3xI", 0, len(stss_entries))
            + struct.pack(f">{len(stss_entries)}I", *stss_entries),
        )
    stbl = _box(b"stbl", stbl_children)
    dinf = _box(
        b"dinf",
        _box(b"dref", struct.pack(">B3xI", 0, 1) + _box(b"url ", b"\x00\x00\x00\x01")),
    )
    minf = _box(
        b"minf",
        _box(b"vmhd", struct.pack(">B3B4H", 0, 0, 0, 1, 0, 0, 0, 0)) + dinf + stbl,
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
