"""Multimodal column plumbing (north-star per BASELINE.json).

Images/audio/video ride through the engine as opaque ``binary`` columns.
Everything below runs without PIL/av/soundfile (absent from this
container):

- magic-number sniffing (PNG/JPEG/GIF/RIFF-WAV/MP4) from the binary prefix
- header dimension parses: JPEG SOF marker walk, GIF logical screen
  descriptor (width/height/bit-depth, pure byte parsing)
- WAV RIFF chunk walk: sample rate / channels / bits / duration from the
  ``fmt `` and ``data`` chunks
- REAL PNG decode + resize + re-encode (pure numpy+zlib codec,
  functions/png.py) — ``decode_image`` / ``resize_image``
- REAL baseline-JPEG decode (pure numpy DCT codec from the T.81 spec,
  functions/jpeg.py, round 5) — ``decode_image`` / ``resize_image``
- REAL WAV PCM decode to normalized float32 — ``decode_audio``
- REAL animated-GIF frame sampling (container-level re-wrap, no LZW
  decode needed) — ``split_gif_frames``
- REAL MP4 + WebM container demux (ISO 14496-12 box walk in
  functions/mp4.py; EBML/Matroska walk in functions/webm.py, round 5):
  encoded-sample / keyframe extraction in ``sample_video_frames``
- perceptual image near-dup (round 5): ``phash_image`` (64-bit DCT
  hash) + ``phash_neardup_pairs`` (multi-index Hamming search, all
  Catalyst after the hash)
- audio analysis (round 5): ``audio_frame_features`` (integer-exact
  windowed energy / zero-crossings / peak) and ``audio_mel_spectrogram``
  (Hann → rFFT → HTK mel filterbank → log, the speech-model frontend)

Still codec-gated: arithmetic-coded/12-bit JPEG (Huffman sequential AND
progressive are real since round 5) and H.264/HEVC/VP8/VP9 PIXEL decode
(container sample extraction is real; the bitstream codecs are not);
per-row failures in the decode operators land in an ``error`` field
rather than failing the job.

Scale notes: binary payloads dominate row size — the operators below keep
them out of shuffles (metadata extraction is a projection; grouping happens
on the extracted metadata, never on the bytes). `maxPartitionBytes` should
be sized so one Arrow batch of rows fits executor memory.
"""

from __future__ import annotations

import logging
import struct as _struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MAGIC = [
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"RIFF", "audio/wav"),  # refined by the WAVE tag check below
    (b"\x00\x00\x00", "video/mp4"),  # ftyp box (loose)
]


def sniff_mime(data: bytes | None) -> str | None:
    if not data:
        return None
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "audio/wav"
    if len(data) > 11 and data[4:8] == b"ftyp":
        return "video/mp4"
    if data[:4] == b"\x1a\x45\xdf\xa3":  # EBML header → Matroska/WebM
        return "video/webm"
    for magic, mime in _MAGIC:
        if data.startswith(magic):
            return mime
    return "application/octet-stream"


def jpeg_dimensions(data: bytes) -> tuple[int | None, int | None, int | None]:
    """(width, height, bit_depth) by walking JPEG markers to the first SOF.

    A JPEG is a sequence of 0xFF-prefixed marker segments; the frame header
    (SOF0–SOF15, excluding DHT/JPG/DAC 0xC4/0xC8/0xCC) carries
    [precision u8][height u16][width u16]. Pure byte walking — no codec.
    """
    if len(data) < 4 or not data.startswith(b"\xff\xd8"):
        return None, None, None
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            i += 1  # padding/garbage between segments — resync
            continue
        marker = data[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:  # standalone markers
            i += 2
            continue
        seg_len = _struct.unpack(">H", data[i + 2 : i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                return None, None, None
            precision = data[i + 4]
            height, width = _struct.unpack(">HH", data[i + 5 : i + 9])
            return width, height, precision
        i += 2 + seg_len
    return None, None, None


def gif_dimensions(data: bytes) -> tuple[int | None, int | None, int | None]:
    """(width, height, bits_per_pixel) from the GIF logical screen
    descriptor (bytes 6-10 little-endian; packed byte bits 0-2 encode
    colour resolution as bpp-1)."""
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None, None, None
    width, height = _struct.unpack("<HH", data[6:10])
    packed = data[10]
    bit_depth = ((packed >> 4) & 0x07) + 1
    return width, height, bit_depth


def wav_audio_meta(
    data: bytes,
) -> tuple[int | None, int | None, int | None, int | None]:
    """(sample_rate, channels, bits_per_sample, duration_ms) by walking the
    RIFF chunk list to ``fmt `` (and ``data`` for duration). Pure byte
    parsing — no codec. Chunks are [id u32][size u32 LE][payload, padded to
    even]; fmt carries [format u16][channels u16][sample_rate u32]
    [byte_rate u32][block_align u16][bits_per_sample u16].
    """
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None, None, None, None
    sample_rate = channels = bits = None
    byte_rate = data_size = None
    i, n = 12, len(data)
    while i + 8 <= n:
        cid = data[i : i + 4]
        size = _struct.unpack("<I", data[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 24 <= n:
            channels, sample_rate, byte_rate = _struct.unpack(
                "<HII", data[i + 10 : i + 20]
            )
            if i + 24 <= n:
                bits = _struct.unpack("<H", data[i + 22 : i + 24])[0]
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # chunks are padded to even length
    duration_ms = None
    if byte_rate and data_size is not None:
        duration_ms = data_size * 1000 // byte_rate
    return sample_rate, channels, bits, duration_ms


PIXELS_SCHEMA = T.StructType(
    [
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        # row-major H×W×C uint8 — binary, NOT array<array<...>>: a 256×256
        # RGB image is one 196 KB buffer instead of ~200k boxed ints, and
        # Arrow moves it zero-copy
        T.StructField("pixels", T.BinaryType()),
        T.StructField("error", T.StringType()),
    ]
)


def decode_image(
    df: DataFrame, bytes_col: str = "media", out_col: str = "image"
) -> DataFrame:
    """Decode PNG, baseline/progressive JPEG, and GIF binary columns to
    raw pixel buffers via the engine's pure numpy codecs
    (functions/png.py, functions/jpeg.py, functions/gif.py — no
    PIL/libjpeg needed). Output struct:
    (height, width, channels, pixels: binary row-major uint8, error).
    GIF decodes the FIRST image block (LZW + interlace + palette → RGB);
    compose with split_gif_frames for per-frame pixels of animations.

    Per-image failures (video bytes, corrupt files, arithmetic JPEG)
    land in the ``error`` field instead of failing the batch — at corpus
    scale a decode job must survive bad files.
    """
    from fhir_etl_spark.functions.gif import decode_gif
    from fhir_etl_spark.functions.jpeg import decode_jpeg
    from fhir_etl_spark.functions.png import decode_png

    out_schema = T.StructType(df.schema.fields + [T.StructField(out_col, PIXELS_SCHEMA)])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for data in pdf[bytes_col]:
                if data is None:
                    out.append(None)
                    continue
                raw = bytes(data)
                if raw.startswith(b"\x89PNG"):
                    codec = decode_png
                elif raw.startswith(b"\xff\xd8\xff"):
                    codec = decode_jpeg
                elif raw[:6] in (b"GIF87a", b"GIF89a"):
                    codec = decode_gif
                else:
                    mime = sniff_mime(raw)
                    out.append(
                        {"height": None, "width": None, "channels": None,
                         "pixels": None, "error": f"unsupported: {mime}"}
                    )
                    continue
                try:
                    arr = codec(raw)
                    out.append(
                        {"height": arr.shape[0], "width": arr.shape[1],
                         "channels": arr.shape[2], "pixels": arr.tobytes(),
                         "error": None}
                    )
                except Exception as exc:  # corrupt file → row-level error
                    out.append(
                        {"height": None, "width": None, "channels": None,
                         "pixels": None, "error": str(exc)[:200]}
                    )
            pdf = pdf.reset_index(drop=True)
            pdf[out_col] = out
            yield pdf

    return df.mapInPandas(batches, out_schema)


def resize_image(
    df: DataFrame,
    width: int,
    height: int,
    bytes_col: str = "media",
    method: str = "bilinear",
) -> DataFrame:
    """Binary in, binary out: PNG/JPEG (baseline + progressive)/GIF →
    decode → numpy resample (bilinear or nearest) → re-encode PNG
    (always PNG out: resized training thumbnails should not pay a second
    lossy generation). Unsupported / corrupt rows pass through with
    ``{bytes_col}_resize_error`` set (same survive-bad-files contract as
    decode_image). Map-only: no shuffle, scales linearly with rows."""
    from fhir_etl_spark.functions.gif import decode_gif
    from fhir_etl_spark.functions.jpeg import decode_jpeg
    from fhir_etl_spark.functions.png import (
        decode_png,
        encode_png,
        resize_bilinear,
        resize_nearest,
    )

    if method not in ("bilinear", "nearest"):
        raise ValueError(f"method must be bilinear|nearest, got {method!r}")
    resample = resize_bilinear if method == "bilinear" else resize_nearest
    err_col = f"{bytes_col}_resize_error"
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(err_col, T.StringType())]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            new_bytes, errs = [], []
            for data in pdf[bytes_col]:
                if data is None:
                    new_bytes.append(None)
                    errs.append(None)
                    continue
                raw = bytes(data)
                if raw.startswith(b"\x89PNG"):
                    codec = decode_png
                elif raw.startswith(b"\xff\xd8\xff"):
                    codec = decode_jpeg
                elif raw[:6] in (b"GIF87a", b"GIF89a"):
                    codec = decode_gif
                else:
                    new_bytes.append(raw)  # pass through unchanged
                    errs.append(f"unsupported: {sniff_mime(raw)}")
                    continue
                try:
                    arr = codec(raw)
                    new_bytes.append(encode_png(resample(arr, width, height)))
                    errs.append(None)
                except Exception as exc:
                    new_bytes.append(raw)
                    errs.append(str(exc)[:200])
            pdf = pdf.reset_index(drop=True)
            pdf[bytes_col] = new_bytes
            pdf[err_col] = errs
            yield pdf

    return df.mapInPandas(batches, out_schema)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        # interleaved float32 in [-1, 1], one value per channel per frame —
        # binary for the same Arrow zero-copy reason as PIXELS_SCHEMA
        T.StructField("samples", T.BinaryType()),
        T.StructField("error", T.StringType()),
    ]
)


def decode_audio(
    df: DataFrame, bytes_col: str = "media", out_col: str = "audio"
) -> DataFrame:
    """RIFF/WAV PCM decode (stdlib struct + numpy frombuffer — no codec
    lib): 8/16/32-bit integer PCM and 32-bit float → normalized float32
    interleaved frames. Non-WAV / compressed-WAV rows get ``error``."""
    import numpy as np

    out_schema = T.StructType(df.schema.fields + [T.StructField(out_col, AUDIO_SCHEMA)])

    def _decode(raw: bytes) -> dict:
        if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
            return {"sample_rate": None, "channels": None, "n_samples": None,
                    "samples": None, "error": f"unsupported: {sniff_mime(raw)}"}
        fmt_code = channels = rate = bits = None
        payload = None
        i, n = 12, len(raw)
        while i + 8 <= n:
            cid = raw[i : i + 4]
            size = _struct.unpack("<I", raw[i + 4 : i + 8])[0]
            if cid == b"fmt " and i + 24 <= n:
                fmt_code, channels, rate = _struct.unpack(
                    "<HHI", raw[i + 8 : i + 16]
                )
                bits = _struct.unpack("<H", raw[i + 22 : i + 24])[0]
            elif cid == b"data":
                payload = raw[i + 8 : i + 8 + size]
            i += 8 + size + (size & 1)
        if fmt_code is None or payload is None:
            return {"sample_rate": None, "channels": None, "n_samples": None,
                    "samples": None, "error": "missing fmt/data chunk"}
        try:
            if fmt_code == 1 and bits == 16:
                x = np.frombuffer(payload, "<i2").astype(np.float32) / 32768.0
            elif fmt_code == 1 and bits == 8:  # 8-bit WAV PCM is unsigned
                x = (np.frombuffer(payload, "u1").astype(np.float32) - 128.0) / 128.0
            elif fmt_code == 1 and bits == 32:
                x = np.frombuffer(payload, "<i4").astype(np.float32) / 2147483648.0
            elif fmt_code == 3 and bits == 32:  # IEEE float
                x = np.frombuffer(payload, "<f4").astype(np.float32)
            else:
                return {"sample_rate": rate, "channels": channels,
                        "n_samples": None, "samples": None,
                        "error": f"unsupported PCM: fmt={fmt_code} bits={bits}"}
        except ValueError as exc:
            return {"sample_rate": rate, "channels": channels, "n_samples": None,
                    "samples": None, "error": str(exc)[:200]}
        frames = len(x) // channels if channels else 0
        return {"sample_rate": rate, "channels": channels,
                "n_samples": frames, "samples": x[: frames * channels].tobytes(),
                "error": None}

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [
                None if data is None else _decode(bytes(data))
                for data in pdf[bytes_col]
            ]
            pdf = pdf.reset_index(drop=True)
            pdf[out_col] = out
            yield pdf

    return df.mapInPandas(batches, out_schema)


def phash64(arr) -> int:
    """64-bit perceptual hash of an image array (the standard pHash
    construction, as popularized by the public ImageHash library): gray
    (BT.601 integer luma) → 32×32 nearest resample → 2-D orthonormal DCT →
    top-left 8×8 low-frequency block → bit k = coefficient > median of the
    64. Robust to resizing, re-encoding, brightness shifts and mild noise;
    Hamming distance ≈ perceptual distance."""
    import numpy as np

    from fhir_etl_spark.functions.png import resize_nearest

    a = np.asarray(arr)
    if a.ndim == 3:
        if a.shape[2] >= 3:  # RGB(A) → integer BT.601 luma
            a = (
                299 * a[:, :, 0].astype(np.int64)
                + 587 * a[:, :, 1].astype(np.int64)
                + 114 * a[:, :, 2].astype(np.int64)
            ) // 1000
        else:  # gray(+alpha)
            a = a[:, :, 0]
    g = resize_nearest(a.astype(np.float64), 32, 32)
    if g.ndim == 3:
        g = g[:, :, 0]
    d = _PHASH_DCT32 @ g @ _PHASH_DCT32.T
    low = d[:8, :8].flatten()
    bits = low > np.median(low)
    h = 0
    for k in range(64):
        if bits[k]:
            h |= 1 << k
    return h - (1 << 64) if h >= 1 << 63 else h  # two's complement → BIGINT


def _dct_matrix(n: int):
    import numpy as np

    t = np.zeros((n, n))
    for u in range(n):
        c = np.sqrt(0.5) if u == 0 else 1.0
        for x in range(n):
            t[u, x] = np.sqrt(2.0 / n) * c * np.cos((2 * x + 1) * u * np.pi / (2 * n))
    return t


_PHASH_DCT32 = _dct_matrix(32)


def phash_image(
    df: DataFrame, bytes_col: str = "media", out_col: str = "phash"
) -> DataFrame:
    """(… , phash BIGINT, phash_error) for PNG/JPEG/GIF rows via the
    engine's own codecs — the image analogue of the text fingerprint:
    equal hashes ⇒ exact/near-exact duplicates, small Hamming distance ⇒
    perceptual near-dups. Unsupported/corrupt rows get NULL + error
    (per-row contract). Map-only."""
    from fhir_etl_spark.functions.gif import decode_gif
    from fhir_etl_spark.functions.jpeg import decode_jpeg
    from fhir_etl_spark.functions.png import decode_png

    err_col = f"{out_col}_error"
    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField(out_col, T.LongType()), T.StructField(err_col, T.StringType())]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hashes, errs = [], []
            for data in pdf[bytes_col]:
                if data is None:
                    hashes.append(None)
                    errs.append(None)
                    continue
                raw = bytes(data)
                try:
                    if raw.startswith(b"\x89PNG"):
                        arr = decode_png(raw)
                    elif raw.startswith(b"\xff\xd8\xff"):
                        arr = decode_jpeg(raw)
                    elif raw[:6] in (b"GIF87a", b"GIF89a"):
                        arr = decode_gif(raw)
                    else:
                        raise ValueError(f"unsupported: {sniff_mime(raw)}")
                    hashes.append(phash64(arr))
                    errs.append(None)
                except Exception as exc:  # noqa: BLE001
                    hashes.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}"[:200])
            pdf = pdf.reset_index(drop=True)
            pdf[out_col] = pd.array(hashes, dtype="Int64")
            pdf[err_col] = errs
            yield pdf

    return df.mapInPandas(batches, out_schema)


def phash_neardup_pairs(
    hashed: DataFrame,
    id_col: str = "id",
    hash_col: str = "phash",
    max_hamming: int = 7,
    n_bands: int = 4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Image near-dup pairs (a < b, hamming ≤ ``max_hamming``) over pHash
    columns — multi-index Hamming search (Norouzi/Punjani/Fleet, "Fast
    Search in Hamming Space with Multi-Index Hashing", CVPR 2012 — public
    method), all Catalyst after the hash:

    - each 64-bit hash splits into ``n_bands`` disjoint substrings
      (default 4 × 16 bits) indexed EXACTLY per (band, value);
    - every image also probes each band at Hamming radius 1 (the value
      plus its 16 single-bit flips) — pigeonhole: distance ≤
      ``2·n_bands − 1`` (7 by default) puts some substring pair at
      distance ≤ 1, so the probe set provably reaches the partner's
      exact bucket;
    - candidates verify exactly with bit_count(xor).

    Why not plain LSH banding (8 × 8-bit slices, as MinHash does over
    wide signatures): an 8-bit substring has only 256 values, so at 100k+
    images every bucket holds hundreds of ids and the per-bucket pair
    enumeration re-materializes the quadratic join — the round-5 scale
    smoke caught exactly that. 16-bit substrings keep buckets at
    n/(4·65536) expected occupancy; the probe table is a fixed 17 rows
    per band per image (68n), and ``max_bucket_size`` still guards
    pathological identical-image clusters. Shuffles: one groupBy + one
    sort-merge probe join + the distinct — all on (int, long) keys.

    The cap is NOT silent: the number of over-cap buckets dropped from
    the banded search is counted (one cheap job over the checkpointed
    slim table) and logged at WARNING, and equal-hash clusters — the
    one class a drop would lose ENTIRELY, since an identical cluster
    overflows every band at once — are star-paired (min-id ↔ each
    other id) before the banded search, so exact duplicates always
    reach the output (n−1 rows per cluster, never the quadratic
    n(n−1)/2; the pairs are hamming-0 so the verify step keeps them,
    and the final distinct collapses them with banded rediscoveries at
    small scale). Recall for NON-equal pairs whose shared substrings
    all land in dropped buckets remains conditional on the cap — that
    residual loss is exactly what the logged count surfaces."""
    from fhir_etl_spark.operators.dedup import hamming64

    if 64 % n_bands:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    if max_hamming > 2 * n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the radius-1 multi-index "
            f"guarantee 2*{n_bands}-1={2 * n_bands - 1}; raise n_bands"
        )
    # Materialize the slim (id, hash) table ONCE: the plan uses it four
    # times (index + probes + both verify sides), and without this the
    # upstream phash_image python stage — decoding every image — would
    # execute once per use; worse, a broadcast of an unpruned branch
    # drags the binary media column to the driver (observed: >1 GB at
    # 100k images). 16 bytes/row, trivial at any corpus size.
    slim = (
        hashed.where(F.col(hash_col).isNotNull())
        .select(id_col, hash_col)
        .localCheckpoint()
    )
    width = 64 // n_bands
    mask = (1 << width) - 1

    def band_val(b: int):
        return F.shiftrightunsigned(F.col(hash_col), b * width).bitwiseAND(
            F.lit(mask)
        )

    index_rows = slim.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_val(b).alias("val"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select(id_col, "bv.band", "bv.val")
    postings = index_rows.groupBy("band", "val").agg(
        F.array_sort(F.collect_set(id_col)).alias("ids")
    )
    if max_bucket_size is not None:
        n_dropped = postings.filter(F.size("ids") > max_bucket_size).count()
        if n_dropped:
            logging.getLogger(__name__).warning(
                "phash_neardup_pairs: %d over-cap bucket(s) (> %d ids) "
                "dropped from the banded search; equal-hash clusters are "
                "preserved via star pairs, non-equal pairs confined to "
                "those buckets are lost",
                n_dropped, max_bucket_size,
            )
        postings = postings.filter(F.size("ids") <= max_bucket_size)

    # equal-hash star pairs: immune to the bucket cap by construction
    equal_star = (
        slim.groupBy(hash_col)
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
        .select(
            F.element_at("ids", 1).alias("probe_id"),
            F.explode("ids").alias("other"),
        )
        .where(F.col("probe_id") != F.col("other"))
    )

    probe_rows = slim.select(
        F.col(id_col).alias("probe_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (band_val(b).bitwiseXOR(F.lit(flip))).alias("val"),
                    )
                    for b in range(n_bands)
                    for flip in [0] + [1 << k for k in range(width)]
                ]
            )
        ).alias("bv"),
    ).select("probe_id", "bv.band", "bv.val")

    cand = (
        probe_rows.join(postings, ["band", "val"])
        .select(
            "probe_id",
            F.explode_outer("ids").alias("other"),
        )
        .where(F.col("other").isNotNull() & (F.col("probe_id") != F.col("other")))
        .select("probe_id", "other")
        .unionByName(equal_star)
        .select(
            F.least("probe_id", "other").alias("a"),
            F.greatest("probe_id", "other").alias("b"),
        )
        .distinct()
    )
    ha = slim.select(F.col(id_col).alias("a"), F.col(hash_col).alias("_ha"))
    hb = slim.select(F.col(id_col).alias("b"), F.col(hash_col).alias("_hb"))
    return (
        cand.join(ha, "a")
        .join(hb, "b")
        .select("a", "b", hamming64(F.col("_ha"), F.col("_hb")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def audio_frame_features(
    df: DataFrame,
    frame_samples: int = 512,
    bytes_col: str = "media",
    id_col: str = "id",
) -> DataFrame:
    """Windowed acoustic statistics over PCM16 WAV rows, in the INTEGER
    domain: non-overlapping ``frame_samples`` windows (trailing partial
    window kept), each emitting energy (sum of squared int16 samples,
    exact in int64), zero-crossing count (sign transitions with 0 counted
    as non-negative — the classic VAD/speech-music discriminator pair),
    and peak |amplitude|. One row → ceil(n/frame) rows
    (frame_index, n_samples, sumsq, zero_crossings, peak).

    Deliberately int16-domain rather than a float frontend: bit-exact
    across platforms (the m9 oracle replays every value in SQL), which a
    float32 RMS pipeline cannot promise. Mono PCM16 only — multi-channel
    or float WAVs land in an error row (frame_index = -1), same contract
    as the other decode operators. Map-only: no shuffle."""
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("sumsq", T.LongType()),
            T.StructField("zero_crossings", T.IntegerType()),
            T.StructField("peak", T.IntegerType()),
            T.StructField("error", T.StringType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows = []
            for rid, data in zip(pdf[id_col], pdf[bytes_col]):
                if data is None:
                    continue
                raw = bytes(data)
                try:
                    rate, channels, bits, _dur = wav_audio_meta(raw)
                    if rate is None:
                        raise ValueError(f"unsupported: {sniff_mime(raw)}")
                    if channels != 1 or bits != 16:
                        raise ValueError(
                            f"audio_frame_features wants mono PCM16, "
                            f"got {channels}ch/{bits}bit"
                        )
                    # locate the data chunk payload (same walk as decode)
                    i, n = 12, len(raw)
                    payload = None
                    while i + 8 <= n:
                        size = _struct.unpack("<I", raw[i + 4 : i + 8])[0]
                        if raw[i : i + 4] == b"data":
                            payload = raw[i + 8 : i + 8 + size]
                            break
                        i += 8 + size + (size & 1)
                    if payload is None:
                        raise ValueError("missing data chunk")
                    x = np.frombuffer(payload, "<i2").astype(np.int64)
                    for fi in range(0, max((len(x) + frame_samples - 1)
                                           // frame_samples, 0)):
                        fr = x[fi * frame_samples : (fi + 1) * frame_samples]
                        nonneg = fr >= 0
                        rows.append(
                            (rid, fi, len(fr), int((fr * fr).sum()),
                             int((nonneg[1:] != nonneg[:-1]).sum()),
                             int(np.abs(fr).max()), None)
                        )
                except Exception as exc:  # noqa: BLE001 — per-row contract
                    rows.append((rid, -1, None, None, None, None,
                                 f"{type(exc).__name__}: {exc}"[:200]))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "frame_index", "n_samples", "sumsq",
                         "zero_crossings", "peak", "error"],
            )

    return df.select(id_col, bytes_col).mapInPandas(batches, out_schema)


def mel_filterbank(n_mels: int, n_fft: int, sample_rate: int):
    """Triangular mel filterbank matrix (n_mels, n_fft//2 + 1) — the
    standard HTK construction (mel = 2595·log10(1 + f/700)), from the
    public formula. Rows are the overlapping triangles between successive
    mel-spaced center frequencies."""
    import numpy as np

    def hz_to_mel(f):
        return 2595.0 * np.log10(1.0 + f / 700.0)

    def mel_to_hz(m):
        return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

    n_bins = n_fft // 2 + 1
    mel_pts = np.linspace(0.0, hz_to_mel(sample_rate / 2.0), n_mels + 2)
    hz_pts = mel_to_hz(mel_pts)
    bin_pts = np.floor((n_fft + 1) * hz_pts / sample_rate).astype(int)
    fb = np.zeros((n_mels, n_bins))
    for m in range(1, n_mels + 1):
        lo, cen, hi = bin_pts[m - 1], bin_pts[m], bin_pts[m + 1]
        for k in range(lo, cen):
            if cen > lo:
                fb[m - 1, k] = (k - lo) / (cen - lo)
        for k in range(cen, hi):
            if hi > cen:
                fb[m - 1, k] = (hi - k) / (hi - cen)
    return fb


def audio_mel_spectrogram(
    df: DataFrame,
    n_fft: int = 256,
    hop: int = 128,
    n_mels: int = 40,
    bytes_col: str = "media",
    id_col: str = "id",
) -> DataFrame:
    """Log-mel spectrogram frames over mono PCM16 WAV rows — the standard
    speech-model frontend (Whisper/wav2vec-style): Hann window → rFFT
    power → HTK mel filterbank → log10 with a 1e-10 floor. One row →
    n_frames rows (frame_index, mel: array<float> of n_mels).

    Float DSP, so unlike audio_frame_features there is no bit-exact SQL
    twin (the m11 gate query is rows-only by nature); the physics is
    pinned in tests instead: a pure tone at a known frequency puts its
    energy into exactly the mel bands covering that frequency, silence
    floors every band, and Parseval ties total band energy to signal
    energy. Same per-row error contract; map-only; the filterbank is
    built once per Python worker per task batch."""
    import numpy as np

    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("mel", T.ArrayType(T.FloatType())),
            T.StructField("error", T.StringType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        window = np.hanning(n_fft)
        fb_cache: dict[int, np.ndarray] = {}
        for pdf in it:
            rows = []
            for rid, data in zip(pdf[id_col], pdf[bytes_col]):
                if data is None:
                    continue
                raw = bytes(data)
                try:
                    rate, channels, bits, _dur = wav_audio_meta(raw)
                    if rate is None:
                        raise ValueError(f"unsupported: {sniff_mime(raw)}")
                    if channels != 1 or bits != 16:
                        raise ValueError(
                            f"mel frontend wants mono PCM16, got "
                            f"{channels}ch/{bits}bit"
                        )
                    i, n = 12, len(raw)
                    payload = None
                    while i + 8 <= n:
                        size = _struct.unpack("<I", raw[i + 4 : i + 8])[0]
                        if raw[i : i + 4] == b"data":
                            payload = raw[i + 8 : i + 8 + size]
                            break
                        i += 8 + size + (size & 1)
                    if payload is None:
                        raise ValueError("missing data chunk")
                    x = np.frombuffer(payload, "<i2").astype(np.float64) / 32768.0
                    if rate not in fb_cache:
                        fb_cache[rate] = mel_filterbank(n_mels, n_fft, rate)
                    fb = fb_cache[rate]
                    n_frames = max((len(x) - n_fft) // hop + 1, 0)
                    for fi in range(n_frames):
                        frame = x[fi * hop : fi * hop + n_fft] * window
                        power = np.abs(np.fft.rfft(frame)) ** 2
                        mel = np.log10(fb @ power + 1e-10)
                        rows.append((rid, fi, mel.astype(np.float32).tolist(), None))
                except Exception as exc:  # noqa: BLE001 — per-row contract
                    rows.append((rid, -1, None, f"{type(exc).__name__}: {exc}"[:200]))
            yield pd.DataFrame(
                rows, columns=[id_col, "frame_index", "mel", "error"]
            )

    return df.select(id_col, bytes_col).mapInPandas(batches, out_schema)


def _gif_frame_blobs(raw: bytes) -> list[bytes]:
    """Container-level GIF frame split (split_gif_frames' byte walk,
    module-level so the fused scene tier reuses the identical walk):
    each frame re-wrapped as a standalone single-frame GIF sharing the
    global color table; raises on corrupt/truncated containers."""
    if raw[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError(f"unsupported: {sniff_mime(raw)}")
    if len(raw) < 14:  # header (6) + LSD (7) + at least a trailer byte
        raise ValueError(f"truncated GIF: {len(raw)} bytes")
    # header (6) + logical screen descriptor (7) [+ global color table]
    packed = raw[10]
    gct_size = 3 * (2 << (packed & 0x07)) if packed & 0x80 else 0
    header = raw[: 13 + gct_size]
    i, n = 13 + gct_size, len(raw)
    frames: list[bytes] = []
    pending_gce = b""  # graphic control extension riding with next frame
    while i < n:
        b0 = raw[i]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-block chain
            if i + 1 >= n:
                raise ValueError(f"truncated GIF extension at {i}")
            j = i + 2
            while j < n and raw[j] != 0:
                j += 1 + raw[j]
            j += 1  # block terminator
            if raw[i + 1] == 0xF9:  # GCE — keep with the frame
                pending_gce = raw[i:j]
            i = j
        elif b0 == 0x2C:  # image descriptor
            if i + 10 > n:
                raise ValueError(f"truncated GIF image descriptor at {i}")
            j = i + 10
            if raw[i + 9] & 0x80:  # local color table
                j += 3 * (2 << (raw[i + 9] & 0x07))
            j += 1  # LZW minimum code size byte
            while j < n and raw[j] != 0:
                j += 1 + raw[j]
            j += 1
            frames.append(header + pending_gce + raw[i:j] + b"\x3b")
            pending_gce = b""
            i = j
        else:
            raise ValueError(f"corrupt GIF block 0x{b0:02x} at {i}")
    return frames


def split_gif_frames(
    df: DataFrame, every_n: int = 1, bytes_col: str = "media", id_col: str = "id"
) -> DataFrame:
    """Animated-GIF frame sampling at the CONTAINER level: walk the GIF
    block list (image descriptors, extensions, sub-block chains — pure
    byte parsing, no LZW decode) and re-wrap every ``every_n``-th frame as
    a standalone single-frame GIF sharing the global color table. One
    input row → ceil(n_frames / every_n) output rows
    (frame_index, frame: binary).

    Raw frame extraction, not composition: frames that partially update
    the canvas (disposal methods) come out as their own sub-rectangle,
    exactly as stored. Real video (mp4/webm) needs an av/ffmpeg demuxer —
    absent here, those rows are dropped with a counted error row
    (frame_index = -1, frame = NULL, error set).
    """
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
            T.StructField("error", T.StringType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, blobs, errs = [], [], [], []
            for rid, data in zip(pdf[id_col], pdf[bytes_col]):
                if data is None:
                    continue
                try:
                    for k, frame in enumerate(_gif_frame_blobs(bytes(data))):
                        if k % every_n == 0:
                            ids.append(rid)
                            idxs.append(k)
                            blobs.append(frame)
                            errs.append(None)
                # broad catch, same contract as decode_image: one corrupt
                # file must land in an error row, never fail the Spark job
                # (truncated bytes raise IndexError from raw[...] reads,
                # not just ValueError)
                except Exception as exc:  # noqa: BLE001
                    ids.append(rid)
                    idxs.append(-1)
                    blobs.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}"[:200])
            yield pd.DataFrame(
                {id_col: ids, "frame_index": idxs, "frame": blobs, "error": errs}
            )

    return df.select(id_col, bytes_col).mapInPandas(batches, out_schema)


def gif_frame_luma_histograms(
    df: DataFrame,
    every_n: int = 1,
    bytes_col: str = "media",
    id_col: str = "id",
    n_bins: int = 16,
    out_col: str = "hist",
) -> DataFrame:
    """Fused ``split_gif_frames → decode_image → luma_histogram`` for
    animated GIFs: the frame split, LZW pixel decode, and integer BT.601
    luma binning run in ONE Python stage, so the re-wrapped frame bytes
    and the decoded pixel buffers never cross the Arrow boundary — only
    ``n_bins`` longs per frame leave the stage (the m14 scene tier was
    three chained mapInPandas stages shipping full pixel structs between
    Python workers). Row contract is exactly the composition's:
    NULL media → no row; corrupt container → one error row
    (frame_index = -1, hist NULL); a frame whose decode fails keeps its
    row with a NULL histogram (decode_image's survive-bad-files
    contract). The byte walk is ``_gif_frame_blobs`` and the decode is
    ``functions.gif.decode_gif`` — the same code the unfused operators
    run, and the binning is bit-identical int64 arithmetic
    (``luma_milli · n_bins // 255001``)."""
    from fhir_etl_spark.functions.gif import decode_gif

    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("frame_index", T.IntegerType()),
            T.StructField(out_col, T.ArrayType(T.LongType())),
            T.StructField("error", T.StringType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            ids, idxs, hists, errs = [], [], [], []
            for rid, data in zip(pdf[id_col], pdf[bytes_col]):
                if data is None:
                    continue
                try:
                    frames = _gif_frame_blobs(bytes(data))
                except Exception as exc:  # noqa: BLE001 — split contract
                    ids.append(rid)
                    idxs.append(-1)
                    hists.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}"[:200])
                    continue
                for k, frame in enumerate(frames):
                    if k % every_n:
                        continue
                    try:
                        arr = decode_gif(frame)
                        ch = arr.shape[2]
                        if ch == 3:
                            px = arr.reshape(-1, 3).astype(np.int64)
                            lum = 299 * px[:, 0] + 587 * px[:, 1] + 114 * px[:, 2]
                        elif ch == 1:
                            lum = 1000 * arr.reshape(-1).astype(np.int64)
                        else:
                            raise ValueError(
                                f"luma_histogram: unsupported channel count {ch}"
                            )
                        hist = (
                            np.bincount((lum * n_bins) // 255001, minlength=n_bins)
                            .astype("int64")
                            .tolist()
                        )
                        err = None
                    except Exception as exc:  # noqa: BLE001 — decode contract
                        hist, err = None, str(exc)[:200]
                    ids.append(rid)
                    idxs.append(k)
                    hists.append(hist)
                    errs.append(err)
            if ids:  # empty batch → pandas infers float64, Arrow can't
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "frame_index": idxs,
                        out_col: pd.Series(hists, dtype=object),
                        "error": errs,
                    }
                )

    return df.select(id_col, bytes_col).mapInPandas(batches, out_schema)


def sample_video_frames(
    df: DataFrame,
    every_n: int = 30,
    bytes_col: str = "media",
    id_col: str = "id",
    keyframes_only: bool = False,
) -> DataFrame:
    """MP4 + WebM frame sampling at the CONTAINER level (round 5,
    functions/mp4.py and functions/webm.py): resolve each file's sample
    table (stsz × stsc × stco × stss box arithmetic for MP4; the EBML
    Cluster/SimpleBlock walk for WebM) and emit every ``every_n``-th
    encoded sample's bytes, or only sync samples with ``keyframes_only``.
    One input row → N output rows (frame_index, frame: binary, keyframe,
    error).

    Emits ENCODED sample payloads, not pixels: that is the layer a
    training pipeline feeds to a GPU/hardware decoder. H.264/HEVC/VP8/VP9
    PIXEL decode stays out of scope (needs a video codec) — unsupported
    and corrupt files land in a counted error row (frame_index = -1),
    never a job failure. Same one-row→N-rows contract as
    split_gif_frames. Map-only: no shuffle, the per-row work is a few KB
    of container parsing per file."""
    from fhir_etl_spark.functions.mp4 import mp4_samples

    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
            T.StructField("keyframe", T.BooleanType()),
            # presentation timestamp from the container (WebM cluster
            # timestamp + block offset, in ms at the default scale); NULL
            # for MP4 (stts decode not wired) and error rows
            T.StructField("timestamp_ms", T.LongType()),
            T.StructField("error", T.StringType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, blobs, keys, tss, errs = [], [], [], [], [], []
            for rid, data in zip(pdf[id_col], pdf[bytes_col]):
                if data is None:
                    continue
                raw = bytes(data)
                try:
                    if len(raw) >= 12 and raw[4:8] == b"ftyp":
                        resolved = mp4_samples(raw)
                    elif raw[:4] == b"\x1a\x45\xdf\xa3":  # EBML → WebM
                        from fhir_etl_spark.functions.webm import webm_samples

                        resolved = webm_samples(raw)
                    else:
                        raise ValueError(f"unsupported: {sniff_mime(raw)}")
                    for s in resolved:
                        if keyframes_only:
                            if not s["keyframe"]:
                                continue
                        elif s["index"] % every_n != 0:
                            continue
                        ids.append(rid)
                        idxs.append(s["index"])
                        blobs.append(raw[s["offset"] : s["offset"] + s["size"]])
                        keys.append(s["keyframe"])
                        tss.append(s.get("timestamp"))
                        errs.append(None)
                # same contract as split_gif_frames: corrupt bytes (which
                # can raise struct.error/IndexError, not just ValueError)
                # become one counted error row, never a job failure
                except Exception as exc:  # noqa: BLE001
                    ids.append(rid)
                    idxs.append(-1)
                    blobs.append(None)
                    keys.append(None)
                    tss.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}"[:200])
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "frame_index": idxs,
                    "frame": blobs,
                    "keyframe": keys,
                    "timestamp_ms": pd.array(tss, dtype="Int64"),
                    "error": errs,
                }
            )

    return df.select(id_col, bytes_col).mapInPandas(batches, out_schema)


def audio_fingerprint(
    df: DataFrame,
    frame_samples: int = 512,
    bytes_col: str = "media",
    id_col: str = "id",
) -> DataFrame:
    """Integer-exact audio fingerprint per clip → (id, n_frames,
    fingerprint: long): the sign of the frame-to-frame ENERGY DELTA,
    one bit per frame transition, packed LSB-first (first 64
    transitions). The energy-difference-sign scheme is the core of
    Haitsma & Kalker's audio fingerprint (2002, public method) reduced
    to one band — robust to volume scaling direction-preserving edits,
    and, because the energies come from `audio_frame_features`' exact
    int64 sums, fully deterministic and SQL-replayable (unlike the
    float mel tier). Compose with `dedup.hamming64` or the pHash
    multi-index miner for audio near-dup search.

    Per-row error contract (same as the sibling decode operators):
    undecodable clips surface as (id, n_frames=0, fingerprint=NULL,
    error) rows — never silently dropped.

    Plan: the per-frame Python stage is audio_frame_features' existing
    Arrow decode, executed ONCE; the fold is one window lag + ONE
    groupBy computing n_frames and the packed bits together (a separate
    count branch would re-run the decode stage — the double-execution
    anti-pattern the linkage operator was fixed for)."""
    feats = audio_frame_features(
        df, frame_samples=frame_samples, bytes_col=bytes_col, id_col=id_col
    )
    w = Window.partitionBy(id_col).orderBy("frame_index")
    bit = (
        F.when(F.col("sumsq") > F.lag("sumsq").over(w), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    with_bits = feats.select(
        id_col, "frame_index", "error", bit.alias("_b")
    )
    packed = F.coalesce(
        F.sum(
            F.when(
                F.col("frame_index").between(1, 64),
                F.call_function(
                    "shiftleft", F.col("_b"), (F.col("frame_index") - 1).cast("int")
                ),
            )
        ),
        F.lit(0).cast("long"),
    )
    err = F.max("error")
    return (
        with_bits.groupBy(id_col)
        .agg(
            F.sum((F.col("frame_index") >= 0).cast("int")).cast("int").alias(
                "n_frames"
            ),
            F.when(err.isNull(), packed).alias("fingerprint"),
            err.alias("error"),
        )
    )


def luma_histogram(
    df: DataFrame,
    image_col: str = "image",
    out_col: str = "hist",
    n_bins: int = 16,
) -> DataFrame:
    """Integer luma histogram per decoded frame: ``luma_milli = 299·R +
    587·G + 114·B`` (the ITU-R BT.601 weights scaled to exact integer
    milli-units, range 0..255000) binned as ``luma_milli · n_bins //
    255001`` — pure int64 arithmetic end to end, so the histogram is
    exactly reproducible in any engine (the m14 oracle replays it in
    SQL). Grayscale frames (channels = 1) use ``1000·v``; any other
    channel count raises loudly (a silent skip would undercount scene
    cuts downstream).

    Arrow-batched numpy (codec-tier Python, the decode_image policy);
    the per-frame output is ``n_bins`` longs — the frame's pixels never
    leave the stage. Rows whose decode failed (``image.error`` set or
    NULL image) get a NULL histogram, mirroring decode_image's
    survive-bad-files contract."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.ArrayType(T.LongType()))]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            hists: list[list[int] | None] = []
            for img in pdf[image_col]:
                if img is None or img["error"] is not None or img["pixels"] is None:
                    hists.append(None)
                    continue
                ch = int(img["channels"])
                buf = np.frombuffer(img["pixels"], np.uint8).astype(np.int64)
                if ch == 3:
                    px = buf.reshape(-1, 3)
                    lum = 299 * px[:, 0] + 587 * px[:, 1] + 114 * px[:, 2]
                elif ch == 1:
                    lum = 1000 * buf
                else:
                    raise ValueError(
                        f"luma_histogram: unsupported channel count {ch}"
                    )
                bins = (lum * n_bins) // 255001
                hists.append(
                    np.bincount(bins, minlength=n_bins).astype("int64").tolist()
                )
            out = pdf.copy()
            out[out_col] = hists
            yield out

    return df.mapInPandas(batches, out_schema)


def scene_cuts(
    df: DataFrame,
    id_col: str,
    order_col: str,
    hist_col: str = "hist",
) -> DataFrame:
    """Histogram-delta scene-change detection (the standard shot-
    boundary heuristic: Zhang, Kankanhalli & Smoliar 1993): a frame is
    a CUT when more than half its pixel mass moved luma bins since the
    previous frame — ``2·L1(h_f, h_{f−1}) > Σ h_f``. Declarative on top
    of :func:`luma_histogram`: one lag window per clip + a zip_with
    fold, all integer, no Python.

    Adds ``l1_delta`` (NULL for each clip's first frame) and ``is_cut``.
    Scale shape: the only shuffle is the per-clip window; state per key
    is the clip's frame count (bounded — clips are sampled to dozens of
    frames upstream, the m4/m7 contract)."""
    w = Window.partitionBy(id_col).orderBy(order_col)
    prev = F.lag(hist_col).over(w)
    l1 = F.when(
        prev.isNotNull(),
        F.aggregate(
            F.zip_with(F.col(hist_col), prev, lambda a, b: F.abs(a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    npix = F.aggregate(
        F.col(hist_col), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        df.withColumn("l1_delta", l1)
        .withColumn(
            "is_cut",
            F.coalesce(F.lit(2) * F.col("l1_delta") > npix, F.lit(False)),
        )
    )


EXIF_SCHEMA = T.StructType(
    [
        T.StructField("make", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("datetime", T.StringType()),
        T.StructField("exposure_num", T.LongType()),
        T.StructField("exposure_den", T.LongType()),
        T.StructField("pixel_x", T.LongType()),
        T.StructField("pixel_y", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


def extract_exif(df: DataFrame, bytes_col: str = "media", out_col: str = "exif") -> DataFrame:
    """EXIF metadata extraction over a JPEG/TIFF binary column via the
    from-spec stdlib reader (functions/exif.py — TIFF 6.0 IFD walk, both
    endiannesses, APP1 discovery inside JPEG) — the standard first pass
    over a scraped image corpus: rotation normalization (Orientation),
    capture-time dedup keys (DateTime/Make/Model), resolution filters
    (PixelX/YDimension). Metadata only — pixels are never decoded.

    Arrow-batched codec-tier Python (the decode_image policy); corrupt
    or EXIF-less blobs land in the ``error`` field, never a job
    failure."""
    out_schema = T.StructType(df.schema.fields + [T.StructField(out_col, EXIF_SCHEMA)])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fhir_etl_spark.functions.exif import parse_exif

        for pdf in it:
            vals = []
            for data in pdf[bytes_col]:
                if data is None:
                    vals.append((None,) * 8 + ("null payload",))
                    continue
                try:
                    d = parse_exif(bytes(data))
                except ValueError as exc:
                    vals.append((None,) * 8 + (str(exc),))
                    continue
                exp = d.get("exposure")
                vals.append(
                    (
                        d.get("make"),
                        d.get("model"),
                        d.get("orientation"),
                        d.get("datetime"),
                        exp[0] if exp else None,
                        exp[1] if exp else None,
                        d.get("pixel_x"),
                        d.get("pixel_y"),
                        None,
                    )
                )
            out = pdf.copy()
            out[out_col] = vals
            yield out

    return df.mapInPandas(batches, out_schema)


PDF_DOC_SCHEMA = T.StructType(
    [
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


def pdf_text(
    df: DataFrame, bytes_col: str = "media", out_col: str = "doc"
) -> DataFrame:
    """PDF → text extraction via the from-spec codec (functions/pdf.py:
    tolerant obj-span scan, page-tree walk, FlateDecode, the BT…ET
    text-operator subset). Output struct: (n_pages, text — pages joined
    by '\\n', n_chars, error). Per-document failures (non-PDF bytes,
    broken page trees, unsupported filters, zlib corruption) land in
    ``error`` instead of failing the batch — at corpus scale an
    extraction job must survive bad files. Encoding caveat (stated in
    functions/pdf.py): bytes map through latin-1 — exact for ASCII/
    Type1 content; CID-keyed fonts would need CMap tables (the
    standard gap for from-scratch extractors, surfaced per-row as
    extracted garbage, not a crash).

    Scale shape: Arrow-batched mapInPandas, map-only — per-document
    work, no shuffle; the binary column never leaves its partition.
    """
    from fhir_etl_spark.functions.pdf import extract_pdf_text

    out_schema = T.StructType(df.schema.fields + [T.StructField(out_col, PDF_DOC_SCHEMA)])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for data in pdf[bytes_col]:
                if data is None:
                    out.append(None)
                    continue
                try:
                    pages = extract_pdf_text(bytes(data))
                    text = "\n".join(pages)
                    out.append(
                        {"n_pages": len(pages), "text": text,
                         "n_chars": len(text), "error": None}
                    )
                except Exception as exc:  # noqa: BLE001 — per-row contract
                    out.append(
                        {"n_pages": None, "text": None, "n_chars": None,
                         "error": f"{type(exc).__name__}: {exc}"}
                    )
            yield pdf.assign(**{out_col: out})

    return df.mapInPandas(batches, out_schema)
