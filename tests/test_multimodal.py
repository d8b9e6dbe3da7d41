"""Multimodal plumbing: real binary columns through Arrow-batched
mapInPandas, codec-free header parsing, stub gating."""

from __future__ import annotations

import struct

import pytest

from fhir_etl_spark.operators.multimodal import decode_image, sniff_mime


def minimal_png(width: int, height: int, bit_depth: int = 8) -> bytes:
    ihdr = struct.pack(">II", width, height) + bytes([bit_depth, 2, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + b"\x00\x00\x00\x00"  # fake crc — header parse doesn't check it
    )


def _media_df(spark):
    rows = [
        (1, minimal_png(640, 480)),
        (2, b"\xff\xd8\xff\xe0" + b"\x00" * 32),
        (3, b"RIFF" + b"\x00" * 4 + b"WAVE" + b"\x00" * 16),
        (4, b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 16),
        (5, None),
        (6, b"just some text bytes"),
    ]
    return spark.createDataFrame(rows, "id long, media binary")


def test_video_rows_error_contract(spark):
    """sample_video_frames (real MP4 demux since round 5) keeps the
    per-row error contract: moov-less mp4 bytes and non-video rows become
    counted error rows (frame_index = -1), never a job failure."""
    from fhir_etl_spark.operators.multimodal import sample_video_frames

    rows = sample_video_frames(_media_df(spark)).collect()
    by_id = {r["id"]: r for r in rows}
    assert by_id[4]["frame_index"] == -1 and by_id[4]["error"]  # moov-less
    assert by_id[6]["frame_index"] == -1 and "unsupported" in by_id[6]["error"]
    assert 5 not in by_id  # NULL media rows are skipped, not errored


def _real_png(seed: int, h: int = 12, w: int = 9, ch: int = 3) -> tuple:
    import numpy as np

    from fhir_etl_spark.functions.png import encode_png

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, ch), dtype="uint8")
    return arr, encode_png(arr)


def test_decode_image_real_png(spark):
    """Full valid PNGs (all 5 scanline filters) decode to exact pixel
    buffers through the Arrow-batched operator; JPEG and corrupt rows get
    row-level errors instead of failing the job."""
    import numpy as np

    from fhir_etl_spark.functions.png import encode_png

    arr0, png0 = _real_png(0)
    arr1 = np.arange(2 * 3 * 4, dtype="uint8").reshape(2, 3, 4)
    rows = [(0, png0)]
    rows += [(ft, encode_png(arr1, filter_type=ft)) for ft in (1, 2, 3, 4)]
    rows += [(10, minimal_jpeg(8, 8)), (11, b"\x89PNG\r\n\x1a\ngarbage")]
    df = spark.createDataFrame(rows, "id long, media binary")
    out = {r["id"]: r["image"] for r in decode_image(df).collect()}

    assert (out[0]["height"], out[0]["width"], out[0]["channels"]) == (12, 9, 3)
    assert bytes(out[0]["pixels"]) == arr0.tobytes()
    for ft in (1, 2, 3, 4):  # every unfilter path, end to end
        assert bytes(out[ft]["pixels"]) == arr1.tobytes(), f"filter {ft}"
        assert out[ft]["error"] is None
    # the malformed header-only JPEG (missing SOF component count) is a
    # row-level decode error now that the real codec validates it (round 5)
    assert out[10]["pixels"] is None and "invalid SOF" in out[10]["error"]
    assert out[11]["pixels"] is None and out[11]["error"]


def test_resize_image_real_png(spark):
    """decode → bilinear resample → re-encode round-trips through Spark;
    output re-decodes to the target geometry, constant images stay exact."""
    import numpy as np

    from fhir_etl_spark.functions.png import decode_png, encode_png
    from fhir_etl_spark.operators.multimodal import resize_image

    flat = np.full((10, 10, 3), 200, dtype="uint8")
    _, noisy = _real_png(3, h=16, w=8)
    df = spark.createDataFrame(
        [(1, encode_png(flat)), (2, noisy), (3, minimal_jpeg(4, 4))],
        "id long, media binary",
    )
    out = {r["id"]: r for r in resize_image(df, width=4, height=6).collect()}
    r1 = decode_png(bytes(out[1]["media"]))
    assert r1.shape == (6, 4, 3) and (r1 == 200).all()
    assert decode_png(bytes(out[2]["media"])).shape == (6, 4, 3)
    # corrupt (scan-less) JPEG passes through unchanged, error recorded
    assert bytes(out[3]["media"]) == minimal_jpeg(4, 4)
    assert "invalid SOF" in out[3]["media_resize_error"]


def _pcm16_wav(rate: int, channels: int, samples) -> bytes:
    import numpy as np

    x = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * 2 * channels, 2 * channels, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(x)) + x
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_audio_pcm(spark):
    """16-bit PCM decodes to normalized float32 interleaved frames;
    unsupported payloads get row-level errors."""
    import numpy as np

    from fhir_etl_spark.operators.multimodal import decode_audio

    pcm = [0, 16384, -16384, 32767, -32768, 100]  # 3 stereo frames
    df = spark.createDataFrame(
        [(1, _pcm16_wav(8000, 2, pcm)), (2, minimal_png(4, 4))],
        "id long, media binary",
    )
    out = {r["id"]: r["audio"] for r in decode_audio(df).collect()}
    a = out[1]
    assert (a["sample_rate"], a["channels"], a["n_samples"]) == (8000, 2, 3)
    got = np.frombuffer(bytes(a["samples"]), "<f4")
    want = np.array(pcm, dtype="f4") / 32768.0
    assert np.allclose(got, want, atol=1e-7)
    assert out[2]["samples"] is None and "unsupported" in out[2]["error"]


def _animated_gif(n_frames: int, w: int = 4, h: int = 4) -> bytes:
    """Hand-built n-frame GIF89a: global color table, per-frame GCE +
    image descriptor + fake LZW sub-blocks (container parsing never
    decodes pixel data)."""
    gct = bytes(6)  # 2-entry color table (packed size bits = 0)
    out = b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x80, 0, 0]) + gct
    for k in range(n_frames):
        out += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"  # GCE: 10cs delay
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"  # descriptor
        out += b"\x02" + bytes([3, k, 0x01, 0x02]) + b"\x00"  # LZW min + 1 sub-block
    return out + b"\x3b"


def test_split_gif_frames(spark):
    """Animated GIF → one standalone parseable GIF per sampled frame;
    non-GIF rows produce a counted error row."""
    from fhir_etl_spark.operators.multimodal import gif_dimensions, split_gif_frames

    df = spark.createDataFrame(
        [(1, _animated_gif(5)), (2, minimal_png(4, 4))],
        "id long, media binary",
    )
    rows = split_gif_frames(df, every_n=2).collect()
    frames = sorted(
        [r for r in rows if r["id"] == 1], key=lambda r: r["frame_index"]
    )
    assert [r["frame_index"] for r in frames] == [0, 2, 4]
    for r in frames:
        blob = bytes(r["frame"])
        assert blob.startswith(b"GIF89a") and blob.endswith(b"\x3b")
        assert gif_dimensions(blob)[:2] == (4, 4)
        assert blob[19:25] == b"\x21\xf9\x04\x00\x0a\x00"  # GCE rode along
    (err,) = [r for r in rows if r["id"] == 2]
    assert err["frame_index"] == -1 and "unsupported" in err["error"]


def test_split_gif_frames_truncated_bytes_become_error_rows(spark):
    """Per-row error contract under CORRUPT (not just non-GIF) bytes:
    truncated GIFs used to raise IndexError out of the block walk and fail
    the whole job (ADVICE r04). Every malformation must land in an error
    row with frame_index = -1."""
    from fhir_etl_spark.operators.multimodal import split_gif_frames

    good = _animated_gif(3)
    hdr = 13 + 3 * (2 << (good[10] & 0x07))  # header + global color table
    corrupt = [
        (1, b"GIF89a\x04\x00"),             # header cut mid-LSD (the ADVICE repro)
        (2, b"GIF89a"),                      # nothing after the magic
        (3, good[:hdr] + b"\x21"),           # extension intro byte at EOF
        (4, good[:hdr] + b"\x2c\x00\x00"),   # image descriptor cut short
        (5, good),                           # sanity: the good one still splits
    ]
    df = spark.createDataFrame(corrupt, "id long, media binary")
    rows = split_gif_frames(df, every_n=1).collect()
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    for rid in (1, 2, 3, 4):
        (err,) = by_id[rid]
        assert err["frame_index"] == -1 and err["error"]
    assert [r["frame_index"] for r in sorted(by_id[5], key=lambda r: r["frame_index"])] == [0, 1, 2]


def test_gif_frame_luma_histograms_matches_composition(spark):
    """The fused split→decode→bin operator (r13, the m14 scene tier)
    must be row-for-row identical on (id, frame_index, hist, has-error)
    to the three-stage composition it replaces — including every_n
    sampling, interlaced GIFs, frames that fail LZW decode (row kept,
    NULL hist), corrupt containers (frame_index = -1), non-GIF bytes,
    and NULL media (no row)."""
    import numpy as np

    from fhir_etl_spark.functions.gif import encode_gif
    from fhir_etl_spark.operators.multimodal import (
        gif_frame_luma_histograms,
        luma_histogram,
        split_gif_frames,
    )

    pal = np.stack(
        [
            np.array([(i * 37) % 256, (i * 59) % 256, (i * 83) % 256])
            for i in range(16)
        ]
    ).astype(np.uint8)

    def clip(seed: int, nf: int, h: int, w: int, interlace: bool) -> bytes:
        yy, xx = np.mgrid[0:h, 0:w]
        frames = [
            ((seed + f + 5 * yy + 3 * xx) % 16).astype(np.uint8)
            for f in range(nf)
        ]
        return encode_gif(frames, pal, interlace=interlace)

    rows = [
        (1, clip(1, 4, 8, 6, False)),
        (2, clip(2, 5, 7, 9, True)),  # interlaced decode path
        (3, _animated_gif(3)),  # splits fine, frames fail LZW decode
        (4, b"GIF89a"),  # corrupt container -> frame_index -1
        (5, minimal_png(4, 4)),  # non-GIF -> frame_index -1
        (6, None),  # NULL media -> no row at all
    ]
    df = spark.createDataFrame(rows, "id long, media binary")
    for every_n in (1, 2):
        fused = {
            (r["id"], r["frame_index"]): (r["hist"], r["error"] is not None)
            for r in gif_frame_luma_histograms(df, every_n=every_n).collect()
        }
        frames = split_gif_frames(df, every_n=every_n)
        composed = {
            (r["id"], r["frame_index"]): (
                r["hist"],
                r["error"] is not None
                or (r["image"] is not None and r["image"]["error"] is not None),
            )
            for r in luma_histogram(
                decode_image(frames, bytes_col="frame")
            ).collect()
        }
        assert fused == composed
        assert not any(rid == 6 for rid, _ in fused)
        # the decodable clips really produced histograms (non-vacuous)
        assert all(
            fused[(rid, fi)][0] is not None
            for rid, fi in fused
            if rid in (1, 2) and fi >= 0
        )
        assert fused[(4, -1)][1] and fused[(5, -1)][1]


def test_png_codec_property_roundtrip():
    """Pure-unit codec check across shapes/channels/filters (no Spark)."""
    import numpy as np

    from fhir_etl_spark.functions.png import decode_png, encode_png

    rng = np.random.default_rng(42)
    for ch in (1, 2, 3, 4):
        for ft in range(5):
            h, w = int(rng.integers(1, 20)), int(rng.integers(1, 20))
            img = rng.integers(0, 256, size=(h, w, ch), dtype="uint8")
            assert (decode_png(encode_png(img, filter_type=ft)) == img).all()


def test_mime_sniff_unit():
    assert sniff_mime(None) is None
    assert sniff_mime(b"GIF89a...") == "image/gif"

def minimal_jpeg(width: int, height: int, precision: int = 8) -> bytes:
    """SOI + APP0 + (stray fill byte) + SOF0 + EOI — enough structure to
    exercise the marker walk, including a segment to skip."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + bytes([precision])
        + struct.pack(">HH", height, width)
        + b"\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + b"\xff" + sof0 + b"\xff\xd9"


def minimal_gif(width: int, height: int, bpp: int = 8) -> bytes:
    import struct

    packed = ((bpp - 1) & 0x07) << 4
    return b"GIF89a" + struct.pack("<HH", width, height) + bytes([packed, 0, 0]) + b"\x00;"


def test_image_dimensions_all_formats():
    """JPEG SOF walk, GIF LSD — width/height without PIL."""
    from fhir_etl_spark.operators.multimodal import gif_dimensions, jpeg_dimensions

    assert jpeg_dimensions(minimal_jpeg(1920, 1080)) == (1920, 1080, 8)
    assert gif_dimensions(minimal_gif(320, 200, bpp=8)) == (320, 200, 8)
    # truncated/garbage inputs return Nones, never raise
    assert jpeg_dimensions(b"\xff\xd8\xff") == (None, None, None)
    assert gif_dimensions(b"GIF89a\x01") == (None, None, None)
    for parse in (jpeg_dimensions, gif_dimensions):
        assert parse(b"random bytes") == (None, None, None)


def minimal_wav(
    sample_rate: int, channels: int, bits: int, n_frames: int
) -> bytes:
    import struct

    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    data = b"\x00" * (n_frames * block_align)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_audio_meta_unit():
    from fhir_etl_spark.operators.multimodal import sniff_mime, wav_audio_meta

    wav = minimal_wav(16000, 2, 16, n_frames=16000)  # exactly 1 s
    assert sniff_mime(wav) == "audio/wav"
    assert wav_audio_meta(wav) == (16000, 2, 16, 1000)
    # truncated/garbage inputs return Nones, never raise
    assert wav_audio_meta(b"RIFF\x00\x00\x00\x00WAVE") == (None, None, None, None)
    assert wav_audio_meta(b"not audio") == (None, None, None, None)


def test_jpeg_constant_tiles_match_closed_form():
    """Constant 8×8 tiles are DC-only, so encode→decode must equal the
    closed-form dc_only_pixel arithmetic exactly — the same formula the
    m6 driver oracle replays in SQL. Covers multiple qualities (different
    q00) and edge blocks (dims not multiples of 8)."""
    import numpy as np

    from fhir_etl_spark.functions.jpeg import (
        _QUANT_LUMA,
        dc_only_pixel,
        decode_jpeg,
        encode_jpeg,
        quality_scale,
    )

    for quality in (33, 50, 75, 90):
        q00 = int(quality_scale(_QUANT_LUMA, quality)[0])
        yy, xx = np.mgrid[0:21, 0:19]  # partial edge blocks on both axes
        tiles = ((yy // 8) * 7 + (xx // 8) * 3 + 11 * quality) % 256
        out = decode_jpeg(encode_jpeg(tiles.astype(np.uint8), quality=quality))
        assert out.shape == (21, 19, 1)
        expect = np.vectorize(lambda v: dc_only_pixel(int(v), q00))(tiles)
        assert (out[:, :, 0] == expect).all(), f"quality {quality}"


def test_jpeg_roundtrip_error_bounded():
    """Random and smooth images through every encoder mode (gray/color,
    4:4:4 / 4:2:0, restart intervals): shape preserved, reconstruction
    error bounded, and the emitted header parses in the INDEPENDENT
    round-3 marker walker (jpeg_dimensions predates the codec)."""
    import numpy as np

    from fhir_etl_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from fhir_etl_spark.operators.multimodal import jpeg_dimensions

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, (24, 17), np.uint8)
    out = decode_jpeg(encode_jpeg(gray, quality=95))
    assert out.shape == (24, 17, 1)
    assert np.abs(out[:, :, 0].astype(int) - gray.astype(int)).max() <= 12

    yy, xx = np.mgrid[0:37, 0:53]
    smooth = ((np.sin(yy / 8) + np.cos(xx / 9) + 2) / 4 * 255).astype(np.uint8)
    img = np.stack([smooth, 255 - smooth, smooth // 2], -1)
    for sub in ("444", "420"):
        for ri in (0, 3):
            data = encode_jpeg(img, quality=85, subsampling=sub, restart_interval=ri)
            out = decode_jpeg(data)
            assert out.shape == img.shape, (sub, ri)
            err = np.abs(out.astype(int) - img.astype(int)).max()
            # chroma subsampling halves the color grid; smooth content
            # keeps the loss small either way
            assert err <= (8 if sub == "444" else 20), (sub, ri, err)
            assert jpeg_dimensions(data) == (53, 37, 8)
    # restart path round-trips bit-exactly vs the no-restart pixels
    a = decode_jpeg(encode_jpeg(img, quality=85, restart_interval=2))
    b = decode_jpeg(encode_jpeg(img, quality=85))
    assert (a == b).all()


def test_jpeg_unsupported_profiles_raise():
    import numpy as np
    import pytest as _pytest

    from fhir_etl_spark.functions.jpeg import decode_jpeg, encode_jpeg

    g = np.zeros((8, 8), np.uint8)
    data = bytearray(encode_jpeg(g))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC9  # flip SOF0 → SOF9 (arithmetic coding)
    with _pytest.raises(ValueError, match="SOF marker 0xc9"):
        decode_jpeg(bytes(data))
    # a baseline stream mislabeled SOF2 fails scan-header validation,
    # not silently misdecodes (progressive DC scans must have Se=0)
    data[i + 1] = 0xC2
    with _pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(bytes(data))
    with _pytest.raises(ValueError):
        decode_jpeg(encode_jpeg(g)[:40])  # truncated
    with _pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg")


def test_decode_image_real_jpeg(spark):
    """The production decode_image operator handles real JPEG streams:
    constant-tile grayscale decodes to the closed form; color decodes to
    3 channels; REAL progressive (SOF2) streams decode since round 5;
    arithmetic-coded bytes become a row-level error, never a job
    failure."""
    import numpy as np

    from fhir_etl_spark.functions.jpeg import dc_only_pixel, encode_jpeg

    tiles = np.full((16, 16), 130, np.uint8)
    color = np.zeros((8, 8, 3), np.uint8)
    color[..., 0] = 200
    arith = bytearray(encode_jpeg(tiles, quality=75))
    arith[arith.find(b"\xff\xc0") + 1] = 0xC9  # SOF9: arithmetic coding
    df = spark.createDataFrame(
        [
            (1, encode_jpeg(tiles, quality=33)),
            (2, encode_jpeg(color, quality=75)),
            (3, bytes(arith)),
            (4, encode_jpeg(tiles, quality=33, progressive=True)),
        ],
        "id long, media binary",
    )
    out = {r["id"]: r["image"] for r in decode_image(df).collect()}
    assert (out[1]["height"], out[1]["width"], out[1]["channels"]) == (16, 16, 1)
    assert set(bytes(out[1]["pixels"])) == {dc_only_pixel(130, 24)}
    assert out[2]["channels"] == 3 and out[2]["error"] is None
    assert out[3]["pixels"] is None and "SOF marker 0xc9" in out[3]["error"]
    # progressive decodes to the SAME pixels as its baseline twin
    assert out[4]["error"] is None
    assert bytes(out[4]["pixels"]) == bytes(out[1]["pixels"])


def test_resize_image_jpeg_input_emits_png(spark):
    """resize_image decodes JPEG inputs and re-encodes the thumbnail as
    PNG (no second lossy generation): constant image stays constant at
    the closed-form DC value."""
    import numpy as np

    from fhir_etl_spark.functions.jpeg import dc_only_pixel, encode_jpeg
    from fhir_etl_spark.functions.png import decode_png
    from fhir_etl_spark.operators.multimodal import resize_image

    flat = np.full((16, 16), 130, np.uint8)
    df = spark.createDataFrame(
        [(1, encode_jpeg(flat, quality=33))], "id long, media binary"
    )
    row = resize_image(df, width=4, height=6, method="nearest").collect()[0]
    assert row["media_resize_error"] is None
    arr = decode_png(bytes(row["media"]))
    assert arr.shape == (6, 4, 1)
    assert set(arr.flatten().tolist()) == {dc_only_pixel(130, 24)}


# --------------------------------------------------------------------------
# MP4 container tier (functions/mp4.py, round 5)
# --------------------------------------------------------------------------


def test_mp4_mux_demux_unit():
    """Muxer → parser round trip: every sample's bytes resolved through
    stsz × stsc × stco, stss sync flags, partial trailing chunks, and the
    all-sync default when stss is absent."""
    from fhir_etl_spark.functions.mp4 import mp4_samples, mux_mp4

    samples = [bytes([i] * (10 + i)) for i in range(7)]
    for chunk_size in (1, 2, 3, 7, 10):
        data = mux_mp4(
            samples, keyframe_indices=[0, 2, 4, 6], width=320, height=240,
            chunk_size=chunk_size,
        )
        rs = mp4_samples(data)
        assert [r["index"] for r in rs] == list(range(7)), chunk_size
        for r in rs:
            assert data[r["offset"] : r["offset"] + r["size"]] == samples[r["index"]]
            assert r["keyframe"] == (r["index"] % 2 == 0)
    # no stss ⇒ every sample is a sync sample
    assert all(r["keyframe"] for r in mp4_samples(mux_mp4(samples)))
    # corrupt inputs raise (operator catches per-row)
    with pytest.raises(ValueError):
        mp4_samples(b"\x00\x00\x00\x08free")
    with pytest.raises(ValueError):
        mp4_samples(data[:40])


def test_sample_video_frames_real_mp4(spark):
    """The production operator demuxes real MP4 rows: every_n sampling,
    keyframes_only filtering, and encoded bytes identical to what was
    muxed in."""
    from fhir_etl_spark.functions.mp4 import mux_mp4
    from fhir_etl_spark.operators.multimodal import sample_video_frames

    samples = [bytes([40 + i] * (5 + i)) for i in range(6)]
    data = mux_mp4(samples, keyframe_indices=[0, 3], chunk_size=2)
    df = spark.createDataFrame([(1, data)], "id long, media binary")

    every2 = sample_video_frames(df, every_n=2).collect()
    assert [(r["frame_index"], bytes(r["frame"])) for r in sorted(
        every2, key=lambda r: r["frame_index"]
    )] == [(0, samples[0]), (2, samples[2]), (4, samples[4])]
    assert [r["keyframe"] for r in sorted(every2, key=lambda r: r["frame_index"])] == [
        True, False, False,
    ]

    keys = sample_video_frames(df, keyframes_only=True).collect()
    assert sorted(r["frame_index"] for r in keys) == [0, 3]
    assert all(r["keyframe"] for r in keys)


def test_webm_mux_demux_unit():
    """EBML muxer → parser round trip: per-block bytes, cluster + relative
    timestamps, keyframe flags, laced-block rejection."""
    from fhir_etl_spark.functions.webm import mux_webm, webm_samples

    frames = [bytes([50 + i] * (12 + i)) for i in range(7)]
    for fpc in (1, 2, 3, 7, 10):
        data = mux_webm(
            frames, keyframe_indices=[0, 3, 6], width=320, height=180,
            frames_per_cluster=fpc,
        )
        rs = webm_samples(data, track=1)
        assert [r["index"] for r in rs] == list(range(7)), fpc
        for r in rs:
            assert data[r["offset"] : r["offset"] + r["size"]] == frames[r["index"]]
            assert r["timestamp"] == r["index"] * 33, fpc  # cluster + s16 rel
            assert r["keyframe"] == (r["index"] % 3 == 0)
    # laced SimpleBlock (flags bit 0x02/0x06) rejected loudly
    laced = bytearray(mux_webm(frames[:1]))
    i = laced.rfind(b"\x81\x00\x00")  # block header: track varint + rel ts
    laced[i + 3] |= 0x06
    with pytest.raises(ValueError, match="laced"):
        webm_samples(bytes(laced))
    with pytest.raises(ValueError):
        webm_samples(b"\x00\x00\x00\x00")


def test_sample_video_frames_webm(spark):
    """One operator, both containers: an MP4 row and a WebM row demux in
    the same job; WebM rows carry parsed timestamps, MP4 rows NULL."""
    from fhir_etl_spark.functions.mp4 import mux_mp4
    from fhir_etl_spark.functions.webm import mux_webm
    from fhir_etl_spark.operators.multimodal import sample_video_frames

    w_frames = [bytes([9 + i] * (6 + i)) for i in range(5)]
    rows = [
        (1, mux_webm(w_frames, keyframe_indices=[0, 2, 4], frames_per_cluster=2)),
        (2, mux_mp4([b"a" * 8, b"b" * 9], keyframe_indices=[0])),
    ]
    df = spark.createDataFrame(rows, "id long, media binary")
    out = sample_video_frames(df, keyframes_only=True).collect()
    webm_rows = sorted(
        (r for r in out if r["id"] == 1), key=lambda r: r["frame_index"]
    )
    assert [(r["frame_index"], bytes(r["frame"]), r["timestamp_ms"]) for r in webm_rows] == [
        (0, w_frames[0], 0), (2, w_frames[2], 66), (4, w_frames[4], 132),
    ]
    mp4_rows = [r for r in out if r["id"] == 2]
    assert len(mp4_rows) == 1 and mp4_rows[0]["timestamp_ms"] is None


def test_jpeg_progressive_equals_baseline():
    """Progressive (SOF2, spectral selection + successive approximation)
    carries the SAME quantized coefficients as baseline, so its decode
    must be pixel-IDENTICAL — an exact end-to-end check of the multi-scan
    machinery: DC first/refine, AC band first scans, AC refinement with
    interleaved correction bits, and per-block EOB runs. 60 random
    images across shapes/qualities hunt entropy-coder desyncs."""
    import numpy as np

    from fhir_etl_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    shapes = [(8, 8), (16, 16), (21, 19), (24, 17), (9, 25), (40, 56, 3),
              (33, 29, 3), (17, 8, 3)]
    for trial in range(60):
        shape = shapes[trial % len(shapes)]
        q = (10, 33, 50, 75, 90, 95)[trial % 6]
        img = rng.integers(0, 256, shape, np.uint8)
        base = decode_jpeg(encode_jpeg(img, quality=q))
        prog = decode_jpeg(encode_jpeg(img, quality=q, progressive=True))
        assert (base == prog).all(), (trial, shape, q)
    # smooth gradients exercise long EOB/zero runs
    yy, xx = np.mgrid[0:48, 0:32]
    smooth = ((yy * 2 + xx) % 256).astype(np.uint8)
    assert (
        decode_jpeg(encode_jpeg(smooth, quality=60))
        == decode_jpeg(encode_jpeg(smooth, quality=60, progressive=True))
    ).all()


# --------------------------------------------------------------------------
# pHash image near-dup + windowed audio features (round 5)
# --------------------------------------------------------------------------


def test_phash_invariances_unit():
    """The classic pHash robustness properties: identical → 0; rescaled →
    ~0; JPEG re-encode / mild noise → small; unrelated → ~32; +2
    brightness (no clipping) → exactly 0 (only the DC coefficient moves —
    the property the m10 oracle builds on)."""
    import numpy as np

    from fhir_etl_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from fhir_etl_spark.functions.png import resize_nearest
    from fhir_etl_spark.operators.multimodal import phash64

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    rng = np.random.default_rng(5)
    yy, xx = np.mgrid[0:64, 0:64]
    base = ((np.sin(yy / 9) * np.cos(xx / 7) + 1) / 2 * 215 + 20).astype(np.uint8)
    img = np.stack([base, 255 - base, base // 2], -1)
    h0 = phash64(img)
    assert phash64(img.copy()) == h0
    assert ham(h0, phash64(resize_nearest(img, 128, 128))) <= 2
    assert ham(h0, phash64(decode_jpeg(encode_jpeg(img, quality=75)))) <= 10
    noisy = np.clip(img.astype(int) + rng.integers(-4, 5, img.shape), 0, 255)
    assert ham(h0, phash64(noisy.astype(np.uint8))) <= 12
    assert ham(h0, phash64(rng.integers(0, 256, img.shape, np.uint8))) >= 20
    # DC-only perturbation: gray in [20, 225] + 2 → identical hash
    g = rng.integers(20, 226, (40, 40), np.uint8)
    assert phash64(g + 2) == phash64(g)


def test_phash_neardup_pairs_spark(spark):
    """End to end through Spark: planted near-identical pair found at its
    exact Hamming distance; unrelated images produce no pair; corrupt
    rows carry errors without failing the job."""
    import numpy as np

    from fhir_etl_spark.functions.png import encode_png
    from fhir_etl_spark.operators.multimodal import phash_image, phash_neardup_pairs

    rng = np.random.default_rng(9)
    a = rng.integers(20, 226, (32, 32), np.uint8)
    rows = [
        (1, encode_png(a[:, :, None])),
        (2, encode_png((a + 2)[:, :, None])),   # hamming 0 twin
        (3, encode_png(rng.integers(0, 256, (32, 32, 1), np.uint8))),
        (4, b"\xff\xd8\xffgarbage"),
    ]
    df = spark.createDataFrame(rows, "id long, media binary")
    hashed = phash_image(df)
    errs = {r["id"]: r["phash_error"] for r in hashed.collect()}
    assert errs[1] is None and errs[4] is not None
    pairs = phash_neardup_pairs(hashed, max_hamming=5).collect()
    assert [(r["a"], r["b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]


def test_audio_frame_features(spark):
    """Windowed integer acoustics: frame boundaries, energy, zero
    crossings and peak computed exactly; stereo/float rows error out
    per-row."""
    import numpy as np

    from fhir_etl_spark.operators.multimodal import audio_frame_features

    # 6 samples, frame=4: frames of 4 and 2
    pcm = [100, -200, 300, 0, -32768, 32767]
    df = spark.createDataFrame(
        [(1, _pcm16_wav(8000, 1, pcm)), (2, _pcm16_wav(8000, 2, pcm * 2)),
         (3, minimal_png(4, 4))],
        "id long, media binary",
    )
    rows = audio_frame_features(df, frame_samples=4).collect()
    by = {(r["id"], r["frame_index"]): r for r in rows}
    f0 = by[(1, 0)]
    # signs: +,-,+,+ (0 counts non-negative) → flips at 1, 2
    assert (f0["n_samples"], f0["sumsq"], f0["zero_crossings"], f0["peak"]) == (
        4, 100 * 100 + 200 * 200 + 300 * 300, 2, 300,
    )
    f1 = by[(1, 1)]
    assert (f1["n_samples"], f1["sumsq"], f1["zero_crossings"], f1["peak"]) == (
        2, 32768 * 32768 + 32767 * 32767, 1, 32768,
    )
    assert by[(2, -1)]["error"] and "mono PCM16" in by[(2, -1)]["error"]
    assert by[(3, -1)]["error"] and "unsupported" in by[(3, -1)]["error"]


# --------------------------------------------------------------------------
# Codec hardening: fuzz + truncation sweeps (round 5)
# --------------------------------------------------------------------------


def test_codec_fuzz_random_bytes_fail_cleanly():
    """Random byte blobs through every parser: clean ValueError-class
    failures (or a parse result), never hangs, segfaults, or unexpected
    exception types — the per-row error contract depends on it."""
    import numpy as np

    from fhir_etl_spark.functions.gif import decode_gif
    from fhir_etl_spark.functions.jpeg import decode_jpeg
    from fhir_etl_spark.functions.mp4 import mp4_samples
    from fhir_etl_spark.functions.png import decode_png
    from fhir_etl_spark.functions.webm import webm_samples

    rng = np.random.default_rng(13)
    magics = [b"", b"\xff\xd8\xff", b"\x89PNG\r\n\x1a\n",
              b"\x00\x00\x00\x18ftypisom", b"\x1a\x45\xdf\xa3", b"RIFF",
              b"GIF89a"]
    parsers = [decode_jpeg, decode_png, decode_gif, mp4_samples, webm_samples]
    for trial in range(120):
        blob = (magics[trial % len(magics)]
                + rng.integers(0, 256, trial % 400, dtype=np.uint8).tobytes())
        for fn in parsers:
            try:
                fn(blob)
            except (ValueError, KeyError, IndexError, struct.error,
                    EOFError, OverflowError, MemoryError) as exc:
                assert not isinstance(exc, MemoryError), fn.__name__
            # zlib errors surface as ValueError subclasses via zlib.error?
            except Exception as exc:  # noqa: BLE001
                import zlib
                assert isinstance(exc, zlib.error), (fn.__name__, type(exc), exc)


def test_codec_truncation_sweep_fails_cleanly():
    """EVERY prefix of a valid file through its decoder: must either
    raise cleanly or (for container walks) return a consistent result —
    catches infinite loops and unguarded reads at record boundaries."""
    import numpy as np

    from fhir_etl_spark.functions.gif import decode_gif, encode_gif
    from fhir_etl_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from fhir_etl_spark.functions.mp4 import mp4_samples, mux_mp4
    from fhir_etl_spark.functions.png import decode_png, encode_png
    from fhir_etl_spark.functions.webm import mux_webm, webm_samples
    from fhir_etl_spark.sources.warc import (
        http_response_record,
        read_warc_bytes,
        write_warc,
    )

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (16, 13), np.uint8)
    cases = [
        (decode_jpeg, encode_jpeg(img, quality=75)),
        (decode_jpeg, encode_jpeg(img, quality=75, progressive=True)),
        (decode_png, encode_png(img[:, :, None])),
        (decode_gif, encode_gif(
            [(img % 16).astype(np.uint8)],
            rng.integers(0, 256, (16, 3), dtype=np.uint8))),
        (decode_gif, encode_gif(
            [(img % 4).astype(np.uint8)],
            rng.integers(0, 256, (4, 3), dtype=np.uint8), interlace=True)),
        (mp4_samples, mux_mp4([b"aa" * 9] * 5, keyframe_indices=[0])),
        (webm_samples, mux_webm([b"bb" * 7] * 5)),
        (lambda d: list(read_warc_bytes(d)),
         write_warc([http_response_record("http://x", b"body", "r")])),
    ]
    for fn, data in cases:
        full = fn(data)
        assert full is not None
        for k in range(len(data)):
            try:
                fn(data[:k])
            except Exception as exc:  # noqa: BLE001 — clean failure only
                import zlib
                assert isinstance(
                    exc, (ValueError, KeyError, IndexError, struct.error,
                          EOFError, zlib.error)
                ), (getattr(fn, "__name__", "warc"), k, type(exc))


def test_phash_mih_matches_brute_force(spark):
    """The multi-index Hamming miner must find EXACTLY the brute-force
    pair set for distances within its guarantee radius (7 at 4 bands):
    random 64-bit hashes plus planted near pairs at every distance
    0..7."""
    import numpy as np

    from fhir_etl_spark.operators.multimodal import phash_neardup_pairs

    rng = np.random.default_rng(23)
    hashes = list(rng.integers(-(2 ** 63), 2 ** 63, 40, dtype=np.int64))
    # planted partners at exact distances 0..7 from the first 8 hashes
    for d in range(8):
        h = int(hashes[d])
        for bit in rng.choice(64, size=d, replace=False):
            h ^= 1 << int(bit)
            h = h - (1 << 64) if h >= 1 << 63 else h + (1 << 64) if h < -(1 << 63) else h
        hashes.append(np.int64(h))
    rows = [(i, int(h)) for i, h in enumerate(hashes)]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    expect = sorted(
        (i, j, ham(int(hashes[i]), int(hashes[j])))
        for i in range(len(hashes))
        for j in range(i + 1, len(hashes))
        if ham(int(hashes[i]), int(hashes[j])) <= 7
    )
    df = spark.createDataFrame(rows, "id long, phash long")
    got = sorted(
        (r["a"], r["b"], r["hamming"])
        for r in phash_neardup_pairs(df, max_hamming=7).collect()
    )
    assert got == expect


def test_mel_spectrogram_physics(spark):
    """The float frontend is pinned by physics, not an oracle: a pure
    tone concentrates energy in the mel band covering its frequency;
    silence floors every band at log10(1e-10); stereo rows error out."""
    import numpy as np

    from fhir_etl_spark.operators.multimodal import (
        audio_mel_spectrogram,
        mel_filterbank,
    )

    rate, n_fft, n_mels = 8000, 256, 40
    freq = 1000.0
    t = np.arange(1024) / rate
    tone = (np.sin(2 * np.pi * freq * t) * 16000).astype("<i2")
    silence = np.zeros(512, "<i2")
    df = spark.createDataFrame(
        [(1, _pcm16_wav(rate, 1, tone)), (2, _pcm16_wav(rate, 1, silence)),
         (3, _pcm16_wav(rate, 2, [0] * 8))],
        "id long, media binary",
    )
    rows = audio_mel_spectrogram(df, n_fft=n_fft, hop=128, n_mels=n_mels).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)

    # which mel bands cover 1000 Hz? (triangles overlap → up to 2)
    fb = mel_filterbank(n_mels, n_fft, rate)
    tone_bin = round(freq * n_fft / rate)
    covering = set(np.nonzero(fb[:, tone_bin])[0].tolist())
    for r in by_id[1]:
        assert r["error"] is None
        assert int(np.argmax(r["mel"])) in covering, (r["frame_index"], covering)

    for r in by_id[2]:
        assert np.allclose(r["mel"], -10.0, atol=1e-6)  # log10(1e-10) floor

    assert by_id[3][0]["frame_index"] == -1 and "mono PCM16" in by_id[3][0]["error"]


def test_jpeg_nondivisible_sampling_rejected():
    """Non-divisible sampling-factor combos (e.g. 3-vs-2) are rejected at
    SOF parse with a clear error, not a downstream numpy shape crash
    (round-6 advice): reconstruction upsamples by integer replication."""
    import struct as st

    from fhir_etl_spark.functions.jpeg import decode_jpeg

    sof = st.pack(">BHHB", 8, 16, 16, 3)
    sof += bytes([1, (3 << 4) | 1, 0])  # comp 1: 3x1
    sof += bytes([2, (2 << 4) | 1, 1])  # comp 2: 2x1 — 3 % 2 != 0
    sof += bytes([3, (1 << 4) | 1, 1])
    data = (
        b"\xff\xd8"
        + b"\xff\xc0" + st.pack(">H", 2 + len(sof)) + sof
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="unsupported sampling ratio"):
        decode_jpeg(data)


def test_jpeg_dqt_redefinition_between_scans_ignored():
    """A DQT that redefines a table id AFTER a scan consumed it must not
    re-dequantize that scan's coefficients (libjpeg snapshots tables at
    first SOS — round-6 advice): decode(spliced) == decode(original)."""
    import numpy as np

    from fhir_etl_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    data = encode_jpeg(img, quality=80)
    assert data.endswith(b"\xff\xd9")
    # splice a hostile DQT (all-255 table, id 0 AND id 1) before EOI
    evil = b"\x00" + b"\xff" * 64 + b"\x01" + b"\xff" * 64
    spliced = (
        data[:-2]
        + b"\xff\xdb" + (len(evil) + 2).to_bytes(2, "big") + evil
        + b"\xff\xd9"
    )
    np.testing.assert_array_equal(decode_jpeg(spliced), decode_jpeg(data))


def test_phash_neardup_oversized_cluster_star_pairs(spark, caplog):
    """Equal-hash clusters larger than max_bucket_size are star-paired
    (n-1 rows, min-id hub) instead of silently vanishing, and the dropped
    over-cap bucket count is logged (round-6 advice)."""
    import logging as _logging

    from fhir_etl_spark.operators.multimodal import phash_neardup_pairs

    # 12 identical hashes (over the cap of 5) + one hamming-1 neighbour
    # + one far id; bands of the 12 all land in one over-cap bucket.
    base = 0x0123456789ABCDEF
    rows = [(i, base) for i in range(1, 13)]
    rows.append((20, base ^ 1))  # hamming 1 from the cluster
    rows.append((99, 0x7EDCBA9876543210))
    hashed = spark.createDataFrame(rows, "id long, phash long")
    with caplog.at_level(_logging.WARNING,
                         logger="fhir_etl_spark.operators.multimodal"):
        pairs = phash_neardup_pairs(
            hashed, max_hamming=7, max_bucket_size=5
        ).collect()
    assert any("over-cap bucket" in r.message for r in caplog.records)
    got = {(r["a"], r["b"]): r["hamming"] for r in pairs}
    # star pairs: hub 1 ↔ every other cluster member, hamming 0
    for k in range(2, 13):
        assert got.get((1, k)) == 0
    # the hamming-1 neighbour is still found via its under-cap probe
    # buckets (3 of its 4 bands differ from the cluster's)
    assert any(a == 20 or b == 20 for (a, b) in got)
    assert all(99 not in (a, b) for (a, b) in got)


def test_phash_neardup_small_scale_unchanged_by_star_pairs(spark):
    """At small scale (no over-cap buckets) the star-pair union is a
    no-op: the banded search already finds equal pairs and the final
    distinct collapses them — output row-set identical to the pre-fix
    semantics (pairs a<b, hamming ≤ max)."""
    from fhir_etl_spark.operators.multimodal import phash_neardup_pairs

    rows = [(1, 0x1111), (2, 0x1111), (3, 0x1111 ^ 0x3), (4, -1)]
    hashed = spark.createDataFrame(rows, "id long, phash long")
    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in phash_neardup_pairs(hashed, max_hamming=2).collect()
    }
    assert pairs == {(1, 2): 0, (1, 3): 2, (2, 3): 2}


def test_gif_codec_roundtrip_edges():
    """LZW losslessness across sizes, interlace, 2-color palettes,
    12-bit code growth + table reset (big image); corrupt streams and
    truncations raise ValueError (never a wrong image)."""
    import numpy as np

    from fhir_etl_spark.functions.gif import decode_gif, encode_gif

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    for h, w in [(1, 1), (7, 5), (23, 31)]:
        img = rng.integers(0, 16, (h, w)).astype(np.uint8)
        for inter in (False, True):
            got = decode_gif(encode_gif([img], pal, interlace=inter))
            np.testing.assert_array_equal(got, pal[img])
    big = rng.integers(0, 16, (150, 200)).astype(np.uint8)
    np.testing.assert_array_equal(decode_gif(encode_gif([big], pal)), pal[big])
    pal2 = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    img2 = rng.integers(0, 2, (33, 17)).astype(np.uint8)
    np.testing.assert_array_equal(decode_gif(encode_gif([img2], pal2)), pal2[img2])

    data = encode_gif([big], pal)
    # (cutting only the trailer/terminator tail can still leave a
    # complete image block — that decodes, by design; every cut through
    # the header/descriptor/LZW body must raise)
    for cut in list(range(1, 40)) + [len(data) // 2]:
        with pytest.raises((ValueError, IndexError, struct.error)):
            decode_gif(data[:cut])
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF" + bytes(40))


def test_gif_animated_split_then_decode(spark):
    """The full animation pipeline: 3-frame GIF → split_gif_frames
    (container re-wrap) → decode_image → every frame's pixels exact."""
    import numpy as np

    from fhir_etl_spark.functions.gif import encode_gif
    from fhir_etl_spark.operators.multimodal import decode_image, split_gif_frames

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    frames = [rng.integers(0, 8, (12, 9)).astype(np.uint8) for _ in range(3)]
    gif = encode_gif(frames, pal)
    df = spark.createDataFrame([(1, gif)], "id long, media binary")
    split = split_gif_frames(df)
    decoded = decode_image(split, bytes_col="frame").collect()
    assert len(decoded) == 3
    for r in decoded:
        img = r["image"]
        assert img["error"] is None
        got = np.frombuffer(img["pixels"], np.uint8).reshape(12, 9, 3)
        np.testing.assert_array_equal(got, pal[frames[r["frame_index"]]])


def test_audio_fingerprint_volume_and_structure(spark):
    """The energy-delta-sign fingerprint is invariant to volume scaling
    (halving every sample flips no bits) and sensitive to structural
    change (reordering the loud/quiet pattern flips bits); single-frame
    clips get fingerprint 0."""
    import numpy as np

    from fhir_etl_spark.operators.multimodal import audio_fingerprint

    def clip(pattern):  # pattern of per-frame amplitudes, 8 samples each
        x = np.concatenate(
            [np.full(8, a, dtype="<i2") for a in pattern]
        )
        pcm = x.tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(pcm)) + pcm)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    quiet_loud = [100, 2000, 3000, 100, 200]  # delta signs 1,1,0,1 — not
    # symmetric under reversal (0,1,0,0), unlike an alternating pattern
    df = spark.createDataFrame(
        [
            (1, clip(quiet_loud)),
            (2, clip([a // 2 for a in quiet_loud])),   # half volume
            (3, clip(list(reversed(quiet_loud)))),     # structure changed
            (4, clip([500])),                          # single frame
            (5, b"not audio at all"),                  # undecodable
        ],
        "id long, media binary",
    )
    got = {r["id"]: r for r in audio_fingerprint(df, frame_samples=8).collect()}
    assert got[1]["n_frames"] == 5
    assert got[1]["fingerprint"] == got[2]["fingerprint"] != 0
    assert got[3]["fingerprint"] != got[1]["fingerprint"]
    assert got[4]["fingerprint"] == 0 and got[4]["n_frames"] == 1
    # error contract: undecodable clips surface, never vanish
    assert got[5]["n_frames"] == 0 and got[5]["fingerprint"] is None
    assert got[5]["error"]


def test_gif_offset_frame_composites_onto_logical_screen():
    """ADVICE r06: a first frame positioned inside a larger logical screen
    must composite onto a background-color canvas at the screen dims —
    not silently decode to the bare sub-rectangle. Frames exceeding the
    screen raise."""
    import struct

    import numpy as np

    from fhir_etl_spark.functions.gif import decode_gif, encode_gif

    pal = np.array(
        [[9, 8, 7], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8
    )
    frame = np.arange(20, dtype=np.uint8).reshape(4, 5) % 4
    data = bytearray(encode_gif([frame], pal))
    # patch logical screen 5x4 -> 9x7 and descriptor (left, top) -> (2, 1)
    data[6:10] = struct.pack("<HH", 9, 7)
    desc = 13 + 3 * pal.shape[0]
    assert data[desc] == 0x2C
    data[desc + 1 : desc + 5] = struct.pack("<HH", 2, 1)
    got = decode_gif(bytes(data))
    assert got.shape == (7, 9, 3)
    expect = np.broadcast_to(pal[0], (7, 9, 3)).copy()  # bg index 0
    expect[1:5, 2:7] = pal[frame]
    np.testing.assert_array_equal(got, expect)
    # full-screen frame at (0, 0) is unchanged by the composite path
    np.testing.assert_array_equal(
        decode_gif(encode_gif([frame], pal)), pal[frame]
    )
    # frame extending past the screen is corrupt, not cropped
    data[desc + 1 : desc + 5] = struct.pack("<HH", 6, 4)  # 6+5>9, 4+4>7
    with pytest.raises(ValueError, match="exceeds logical screen"):
        decode_gif(bytes(data))


class TestSceneChange:
    def test_scene_cuts_worked_example(self, spark):
        from fhir_etl_spark.operators.multimodal import scene_cuts

        rows = [
            (1, 0, [8, 0, 0, 0]),
            (1, 1, [7, 1, 0, 0]),   # L1=2, npix=8, 2*2 <= 8 -> no cut
            (1, 2, [0, 0, 4, 4]),   # L1=16 -> 32 > 8 -> cut
            (2, 0, [4, 4, 0, 0]),   # single/first frame never cuts
        ]
        df = spark.createDataFrame(
            rows, "clip int, frame_index int, hist array<bigint>"
        )
        got = {
            (r["clip"], r["frame_index"]): (r["l1_delta"], r["is_cut"])
            for r in scene_cuts(df, "clip", "frame_index").collect()
        }
        assert got[(1, 0)] == (None, False)
        assert got[(1, 1)] == (2, False)
        assert got[(1, 2)] == (16, True)
        assert got[(2, 0)] == (None, False)

    def test_luma_histogram_channels(self, spark):
        import struct as _struct

        from pyspark.sql import Row

        from fhir_etl_spark.operators.multimodal import luma_histogram

        img_rgb = Row(
            height=1, width=2, channels=3,
            pixels=bytes([0, 0, 0, 255, 255, 255]), error=None,
        )
        img_gray = Row(
            height=1, width=1, channels=1, pixels=bytes([128]), error=None,
        )
        img_bad = Row(height=1, width=1, channels=4,
                      pixels=bytes(4), error=None)
        img_err = Row(height=None, width=None, channels=None,
                      pixels=None, error="boom")
        schema = (
            "doc_id long, image struct<height:int,width:int,channels:int,"
            "pixels:binary,error:string>"
        )
        df = spark.createDataFrame(
            [(1, img_rgb), (2, img_gray), (3, img_err)], schema
        )
        got = {r["doc_id"]: r["hist"] for r in luma_histogram(df).collect()}
        # black pixel -> bin 0; white -> luma 255000*16//255001 = 15
        assert got[1][0] == 1 and got[1][15] == 1 and sum(got[1]) == 2
        # gray 128 -> 128000*16//255001 = 8
        assert got[2][8] == 1 and sum(got[2]) == 1
        assert got[3] is None  # decode error -> NULL hist, not a crash

        bad = spark.createDataFrame([(4, img_bad)], schema)
        with pytest.raises(Exception, match="unsupported channel count"):
            luma_histogram(bad).collect()

    def test_m14_plants_detected_exactly(self, spark):
        from fhir_etl_spark.queries.multimodal import m14_scene_change

        rows = m14_scene_change(spark, "/root/testdata/sf0.001").collect()
        assert len(rows) == 500
        for r in rows:
            d = r["doc_id"]
            assert r["n_frames"] == 6 + d % 5
            assert r["n_cuts"] == 1, f"doc {d}: expected exactly the planted cut"
            assert r["first_cut"] == 2 + d % 3


class TestExif:
    def test_roundtrip_both_endians(self, spark):
        from fhir_etl_spark.functions.exif import (
            build_exif,
            build_jpeg_with_exif,
            parse_exif,
        )

        for endian in ("II", "MM"):
            p = build_exif(
                "Mk", "Md", 6, "2024:01:02 03:04:05", (1, 25), 640, 480, endian
            )
            got = parse_exif(build_jpeg_with_exif(p))
            assert got == {
                "make": "Mk", "model": "Md", "orientation": 6,
                "datetime": "2024:01:02 03:04:05", "exposure": (1, 25),
                "pixel_x": 640, "pixel_y": 480,
            }

    def test_error_paths_are_rows_not_failures(self, spark):
        from fhir_etl_spark.operators.multimodal import extract_exif

        rows = [
            (1, b"\xff\xd8\xff\xd9"),          # JPEG with no APP1
            (2, b"garbage bytes"),               # not a JPEG/TIFF at all
            (3, None),                           # null payload
        ]
        df = spark.createDataFrame(rows, "doc_id long, media binary")
        got = {r["doc_id"]: r["exif"] for r in extract_exif(df).collect()}
        assert got[1]["error"] is not None and got[1]["make"] is None
        assert got[2]["error"] is not None
        assert got[3]["error"] == "null payload"

    def test_truncated_ifd_is_loud_error_field(self, spark):
        from fhir_etl_spark.functions.exif import build_exif
        from fhir_etl_spark.operators.multimodal import extract_exif

        p = build_exif("A", "B", 1, "x", (1, 2), 3, 4)[:20]  # cut mid-IFD
        df = spark.createDataFrame([(1, p)], "doc_id long, media binary")
        got = extract_exif(df).collect()[0]["exif"]
        assert got["error"] is not None


def test_exif_real_jpeg_without_app1_is_clean_error(spark):
    """An actual encoded JPEG (DQT/SOF/DHT/SOS segments, entropy data)
    with no APP1 must yield the clean 'no APP1' error — the segment
    walker stops at SOS instead of misparsing entropy bytes."""
    import numpy as np

    from fhir_etl_spark.functions.jpeg import encode_jpeg
    from fhir_etl_spark.operators.multimodal import extract_exif

    j = encode_jpeg(np.full((16, 16), 128, np.uint8), quality=33)
    df = spark.createDataFrame([(1, j)], "doc_id long, media binary")
    got = extract_exif(df).collect()[0]["exif"]
    assert got["error"] == "no APP1/Exif segment found"
