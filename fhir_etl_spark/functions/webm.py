"""Pure-Python WebM/Matroska (EBML) container walk — encoded frame
extraction, no av/ffmpeg.

The sibling of functions/mp4.py, from the public Matroska/EBML spec
(RFC 8794 EBML + the Matroska element registry): every element is
[varint id][varint size][payload], ids keep their length-marker bit,
sizes strip it. Implemented:

- ``webm_samples``: Cluster → Timestamp + SimpleBlock walk, resolving
  each block's track, absolute timestamp (cluster time + s16 relative),
  keyframe flag (SimpleBlock flag bit 0x80), and payload offset/size.
  BlockGroup/Block is handled too (keyframe = no ReferenceBlock
  sibling); laced blocks are rejected loudly (the muxers that matter for
  training corpora emit one frame per SimpleBlock).
- ``mux_webm``: minimal single-track muxer (EBML header + Segment with
  Info/Tracks/Clusters of SimpleBlocks) so tests and the m8 oracle can
  build deterministic files and replay the arithmetic.

VP8/VP9/AV1 PIXEL decode stays out of scope (bitstream codecs); this
layer hands encoded frame bytes + keyframe flags to a downstream
decoder, the same contract as the MP4 tier.

Reference parity: the reference stores attachments opaquely
(document_references.py:125-153); this tier is the engine's
multimodal-training extension.
"""

from __future__ import annotations

import struct

# Matroska element ids (public registry), with the marker bit kept as on
# the wire.
EBML_HEADER = 0x1A45DFA3
DOCTYPE = 0x4282
SEGMENT = 0x18538067
INFO = 0x1549A966
TIMESTAMP_SCALE = 0x2AD7B1
DURATION = 0x4489
TRACKS = 0x1654AE6B
TRACK_ENTRY = 0xAE
TRACK_NUMBER = 0xD7
TRACK_UID = 0x73C5
TRACK_TYPE = 0x83
CODEC_ID = 0x86
VIDEO = 0xE0
PIXEL_WIDTH = 0xB0
PIXEL_HEIGHT = 0xBA
CLUSTER = 0x1F43B675
TIMESTAMP = 0xE7
SIMPLE_BLOCK = 0xA3
BLOCK_GROUP = 0xA0
BLOCK = 0xA1
REFERENCE_BLOCK = 0xFB


def _read_id(data: bytes, pos: int) -> tuple[int, int]:
    """EBML id: leading-zero count of the first byte gives the length;
    the id VALUE keeps the marker bit (per the registry convention)."""
    if pos >= len(data):
        raise ValueError("truncated EBML id")
    first = data[pos]
    for length in range(1, 5):
        if first & (0x100 >> length):
            raw = data[pos : pos + length]
            if len(raw) != length:
                raise ValueError("truncated EBML id")
            return int.from_bytes(raw, "big"), pos + length
    raise ValueError(f"invalid EBML id byte 0x{first:02x} at {pos}")


def _read_size(data: bytes, pos: int) -> tuple[int, int]:
    """EBML size varint: marker bit STRIPPED. All-ones payload (unknown
    size) is rejected — the muxers this tier targets write known sizes."""
    if pos >= len(data):
        raise ValueError("truncated EBML size")
    first = data[pos]
    for length in range(1, 9):
        if first & (0x100 >> length):
            raw = data[pos : pos + length]
            if len(raw) != length:
                raise ValueError("truncated EBML size")
            value = int.from_bytes(raw, "big") & ~(0x80 >> (length - 1) << (8 * (length - 1)))
            if value == (1 << (7 * length)) - 1:
                raise ValueError("unknown-size EBML element unsupported")
            return value, pos + length
    raise ValueError(f"invalid EBML size byte 0x{first:02x} at {pos}")


def _walk(data: bytes, start: int, end: int):
    """Yield (element_id, payload_start, payload_end) over one level."""
    pos = start
    while pos < end:
        eid, pos = _read_id(data, pos)
        size, pos = _read_size(data, pos)
        if pos + size > end:
            raise ValueError(f"element 0x{eid:x} overruns parent")
        yield eid, pos, pos + size
        pos += size


def _uint(data: bytes, s: int, e: int) -> int:
    return int.from_bytes(data[s:e], "big")


def _segment(data: bytes) -> tuple[int, int]:
    if len(data) < 4 or _uint(data, 0, 4) != EBML_HEADER:
        raise ValueError("not an EBML/WebM file")
    seg = None
    for eid, ps, pe in _walk(data, 0, len(data)):
        if eid == SEGMENT:
            seg = (ps, pe)
    if seg is None:
        raise ValueError("no Segment element")
    return seg


def _block_fields(data: bytes, ps: int, pe: int) -> tuple[int, int, int, int, int]:
    """(track, rel_timestamp, flags, payload_start, payload_end) of a
    (Simple)Block. Rejects lacing — one frame per block only."""
    track, pos = _read_size(data, ps)  # track number is a size-style varint
    if pos + 3 > pe:
        raise ValueError("truncated block header")
    rel = struct.unpack(">h", data[pos : pos + 2])[0]
    flags = data[pos + 2]
    if flags & 0x06:
        raise ValueError("laced WebM blocks unsupported")
    return track, rel, flags, pos + 3, pe


def webm_samples(data: bytes, track: int | None = None) -> list[dict]:
    """[{index, track, timestamp, keyframe, offset, size}] from the
    Cluster walk. ``timestamp`` is in TimestampScale ticks (cluster time
    + s16 relative; ms at the Matroska default scale). SimpleBlock
    keyframe = flag bit 0x80; BlockGroup keyframe = no ReferenceBlock
    present."""
    ss, se = _segment(data)
    out = []
    for eid, ps, pe in _walk(data, ss, se):
        if eid != CLUSTER:
            continue
        cluster_ts = 0
        for eid2, s2, e2 in _walk(data, ps, pe):
            if eid2 == TIMESTAMP:
                cluster_ts = _uint(data, s2, e2)
            elif eid2 == SIMPLE_BLOCK:
                trk, rel, flags, bs, be = _block_fields(data, s2, e2)
                if track is None or trk == track:
                    out.append(
                        {"index": len(out), "track": trk,
                         "timestamp": cluster_ts + rel,
                         "keyframe": bool(flags & 0x80),
                         "offset": bs, "size": be - bs}
                    )
            elif eid2 == BLOCK_GROUP:
                blk = None
                has_ref = False
                for eid3, s3, e3 in _walk(data, s2, e2):
                    if eid3 == BLOCK:
                        blk = (s3, e3)
                    elif eid3 == REFERENCE_BLOCK:
                        has_ref = True
                if blk is not None:
                    trk, rel, _flags, bs, be = _block_fields(data, *blk)
                    if track is None or trk == track:
                        out.append(
                            {"index": len(out), "track": trk,
                             "timestamp": cluster_ts + rel,
                             "keyframe": not has_ref,
                             "offset": bs, "size": be - bs}
                        )
    if not out:
        raise ValueError("no Clusters/Blocks found")
    return out


# --------------------------------------------------------------------------
# Minimal muxer (tests + m8 oracle synthesis)
# --------------------------------------------------------------------------


def _enc_id(eid: int) -> bytes:
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big")


def _enc_size(value: int) -> bytes:
    """Shortest size varint with the marker bit."""
    for length in range(1, 9):
        if value < (1 << (7 * length)) - 1:
            return (value | (1 << (7 * length))).to_bytes(length, "big")
    raise ValueError("size too large")


def _el(eid: int, payload: bytes) -> bytes:
    return _enc_id(eid) + _enc_size(len(payload)) + payload


def _el_uint(eid: int, value: int) -> bytes:
    return _el(eid, value.to_bytes(max((value.bit_length() + 7) // 8, 1), "big"))


def mux_webm(
    frames: list[bytes],
    keyframe_indices: list[int] | None = None,
    width: int = 64,
    height: int = 48,
    frame_duration: int = 33,
    frames_per_cluster: int = 3,
    codec: str = "V_VP8",
) -> bytes:
    """Single-video-track WebM: frame i is a SimpleBlock at timestamp
    i*frame_duration (ms at the default TimestampScale), grouped
    ``frames_per_cluster`` per Cluster (cluster Timestamp = its first
    frame's; blocks carry the s16 relative offset). ``keyframe_indices``
    None ⇒ every frame keyframed."""
    n = len(frames)
    keys = set(range(n)) if keyframe_indices is None else set(keyframe_indices)
    header = _el(
        EBML_HEADER,
        _el_uint(0x4286, 1) + _el_uint(0x42F7, 1) + _el_uint(0x42F2, 4)
        + _el_uint(0x42F3, 8) + _el(DOCTYPE, b"webm")
        + _el_uint(0x4287, 2) + _el_uint(0x4285, 2),
    )
    info = _el(
        INFO,
        _el_uint(TIMESTAMP_SCALE, 1_000_000)
        + _el(DURATION, struct.pack(">d", float(n * frame_duration))),
    )
    tracks = _el(
        TRACKS,
        _el(
            TRACK_ENTRY,
            _el_uint(TRACK_NUMBER, 1) + _el_uint(TRACK_UID, 1)
            + _el_uint(TRACK_TYPE, 1) + _el(CODEC_ID, codec.encode())
            + _el(VIDEO, _el_uint(PIXEL_WIDTH, width) + _el_uint(PIXEL_HEIGHT, height)),
        ),
    )
    clusters = b""
    for c0 in range(0, n, frames_per_cluster):
        base_ts = c0 * frame_duration
        body = _el_uint(TIMESTAMP, base_ts)
        for i in range(c0, min(c0 + frames_per_cluster, n)):
            rel = i * frame_duration - base_ts
            flags = 0x80 if i in keys else 0x00
            body += _el(
                SIMPLE_BLOCK,
                b"\x81" + struct.pack(">h", rel) + bytes([flags]) + frames[i],
            )
        clusters += _el(CLUSTER, body)
    return header + _el(SEGMENT, info + tracks + clusters)
