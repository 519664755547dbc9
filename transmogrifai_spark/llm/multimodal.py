"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Extension surface (BASELINE.json north star). The Spark-side plumbing —
schema, partitioning, Arrow-batched UDF signatures, batch shapes — is real
and tested; the actual media decoding is STUBBED (this environment has no
image/audio libraries): ``decode_image``/``decode_audio`` raise
``NotImplementedError`` unless ``fake=True``, in which case a clearly-marked
deterministic fake derives features from the bytes' hash so the distributed
pipeline can be exercised end-to-end.

Design for 100 TB of media:
  * Media rows are LARGE (MBs). ``maxPartitionBytes`` should be lowered (or
    the table written with small row groups) so a partition holds a bounded
    number of blobs; the repartition helper below spreads blobs by id hash.
  * Decode runs in ``mapInPandas`` — Arrow ships the binary column to Python
    in batches; per-batch decode amortizes interpreter cost. Feature output
    is a fixed-width array<float> column: narrow, shuffle-friendly.
  * Metadata (mime, width, height, duration) travels as plain columns so
    filters on it prune parquet row groups BEFORE bytes are read.
"""
from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("content", T.BinaryType(), True),
    T.StructField("mime", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
])

IMAGE_FEATURE_DIM = 16


def _fake_features_from_bytes(data: bytes, dim: int) -> np.ndarray:
    """DETERMINISTIC FAKE decode — stands in for a real image/audio decoder.
    Derives `dim` floats in [0,1) from the sha256 of the bytes."""
    h = hashlib.sha256(data or b"").digest()
    # extend deterministically to dim*4 bytes
    buf = b"".join(hashlib.sha256(h + bytes([i])).digest() for i in range((dim * 4) // 32 + 1))
    ints = np.frombuffer(buf[: dim * 4], dtype=np.uint32)
    return (ints / np.float64(2 ** 32)).astype(np.float32)


def decode_image(df: DataFrame, content_col: str = "content",
                 dim: int = IMAGE_FEATURE_DIM, fake: bool = False) -> DataFrame:
    """Image decode + feature extraction via mapInPandas (Arrow batches).

    Real implementation requires an image library (PIL/cv2) — not available
    here, so ``fake=False`` raises. ``fake=True`` uses the deterministic
    byte-hash fake, keeping schema/batching/partitioning real.
    """
    if not fake:
        raise NotImplementedError(
            "image decoding requires an image library not present in this "
            "environment; pass fake=True for the deterministic stub")

    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != content_col]
        + [T.StructField("features", T.ArrayType(T.FloatType()), True)]
    )
    other_cols = [f.name for f in df.schema.fields if f.name != content_col]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_features_from_bytes(b if b is not None else b"", dim).tolist()
                for b in pdf[content_col]
            ]
            out = pdf[other_cols].copy()
            out["features"] = feats
            yield out

    return df.mapInPandas(decode, schema=out_schema)


def decode_audio(df: DataFrame, content_col: str = "content",
                 dim: int = IMAGE_FEATURE_DIM, fake: bool = False) -> DataFrame:
    """Audio decode stub — same contract as decode_image."""
    if not fake:
        raise NotImplementedError(
            "audio decoding requires an audio library not present in this "
            "environment; pass fake=True for the deterministic stub")
    return decode_image(df, content_col, dim, fake=True)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled timestamp —
    the explode happens before decode so frame decoding parallelizes across
    the cluster rather than within one task. Decode itself is stubbed."""
    n_frames = (F.coalesce(F.col("duration_ms"), F.lit(0)) / every_ms).cast("int")
    return df.withColumn(
        "frame_ts_ms",
        F.explode(F.when(n_frames > 0, F.sequence(F.lit(0), (n_frames - 1) * every_ms, F.lit(every_ms)))
                  .otherwise(F.array(F.lit(0)))),
    )


def synthetic_media_table(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests (bytes derived from the id)."""
    rows = []
    for i in range(n):
        content = hashlib.sha256(str(i).encode()).digest() * 8  # 256 bytes
        rows.append((i, bytearray(content), "image/png" if i % 2 == 0 else "audio/wav",
                     64 + i % 32, 64, 1000 * (i % 7 + 1)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def resize_images(df: DataFrame, content_col: str = "content",
                  target_width: int = 224, target_height: int = 224,
                  fake: bool = False) -> DataFrame:
    """Image resize via mapInPandas — the preprocessing step between decode
    and feature extraction. Same gating contract as decode_image: the real
    resample needs an image library absent here (``fake=False`` raises);
    ``fake=True`` keeps every Spark-side piece real — binary in/binary out
    Arrow batching, metadata columns updated to the target dims so
    downstream row-group pruning sees the new size — while the pixel work is
    a deterministic length-normalization of the bytes (clearly fake).

    Scale note: resize SHRINKS rows (224x224 thumbnails from multi-MB
    originals), so run it as early as possible after the filter — every
    later shuffle moves thumbnails, not originals."""
    if not fake:
        raise NotImplementedError(
            "image resizing requires an image library not present in this "
            "environment; pass fake=True for the deterministic stub")

    out_fields = []
    for f in df.schema.fields:
        if f.name in ("width", "height"):
            out_fields.append(T.StructField(f.name, T.IntegerType(), True))
        else:
            out_fields.append(f)
    out_schema = T.StructType(out_fields)
    fake_len = max(16, (target_width * target_height) // 64)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out[content_col] = [
                None if b is None else
                (hashlib.sha256(bytes(b)).digest()
                 * (fake_len // 32 + 1))[:fake_len]
                for b in pdf[content_col]]
            if "width" in out.columns:
                out["width"] = [None if b is None else target_width
                                for b in pdf[content_col]]
            if "height" in out.columns:
                out["height"] = [None if b is None else target_height
                                 for b in pdf[content_col]]
            yield out

    return df.mapInPandas(resize, schema=out_schema)


# -- decode-free metadata probing -------------------------------------------
# Real (not stubbed) capability: image dimensions read straight off the
# container headers, no image library required. PNG/GIF/BMP headers are
# fixed-offset, so the probe is a pure Catalyst expression (hex + conv on
# binary slices — codegen, zero Python); JPEG needs a marker walk, done in
# mapInPandas with nothing but the bytes (stdlib-only). At 100 TB this is
# the pattern that matters: metadata filters (size, format) run BEFORE any
# decoder is scheduled, pruning blobs while they are still parquet bytes.

def _be_uint(c, pos: int, n: int):
    """Big-endian unsigned int from n bytes at 1-based byte offset pos."""
    return F.conv(F.hex(F.substring(c, pos, n)), 16, 10).cast("long")


def _le_uint(c, pos: int, n: int):
    """Little-endian unsigned int from n bytes at 1-based offset pos."""
    out = _be_uint(c, pos, 1)
    for i in range(1, n):
        out = out + _be_uint(c, pos + i, 1) * (256 ** i)
    return out


def _le_int32(c, pos: int):
    u = _le_uint(c, pos, 4)
    return F.when(u >= 2**31, u - 2**32).otherwise(u)


def image_dimensions(c) -> "F.Column":
    """struct<format,width,height> parsed from fixed-offset headers:
    PNG (IHDR, big-endian), GIF (logical screen, little-endian), BMP
    (BITMAPINFOHEADER, little-endian signed; negative height = top-down
    orientation, reported as abs). Unknown/short input -> NULL struct.
    Pure codegen — safe to run over every blob as a scan-side filter."""
    is_png = F.hex(F.substring(c, 1, 8)) == "89504E470D0A1A0A"
    is_gif = F.hex(F.substring(c, 1, 4)).isin("47494638")  # "GIF8"
    is_bmp = F.hex(F.substring(c, 1, 2)) == "424D"
    mk = lambda fmt, w, h: F.struct(
        F.lit(fmt).alias("format"),
        w.cast("int").alias("width"), h.cast("int").alias("height"))
    return (
        F.when(is_png & (F.length(c) >= 24),
               mk("png", _be_uint(c, 17, 4), _be_uint(c, 21, 4)))
        .when(is_gif & (F.length(c) >= 10),
              mk("gif", _le_uint(c, 7, 2), _le_uint(c, 9, 2)))
        .when(is_bmp & (F.length(c) >= 26),
              mk("bmp", _le_int32(c, 19), F.abs(_le_int32(c, 23))))
    )


def _jpeg_dims(data: bytes):
    """Stdlib-only JPEG SOF marker walk (ITU T.81 B.2.2)."""
    if data is None or len(data) < 4 or data[0:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(data)
    while i + 9 < n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = int.from_bytes(data[i + 2:i + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 <= n:
                h = int.from_bytes(data[i + 5:i + 7], "big")
                w = int.from_bytes(data[i + 7:i + 9], "big")
                return (w, h)
            return None
        i += 2 + seg_len
    return None


def probe_media_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Fill width/height/format from the blob headers: PNG/GIF/BMP via the
    codegen probe, JPEG via one Arrow-batched stdlib pass over ONLY the rows
    the codegen probe could not identify (the common formats never leave the
    JVM). Adds ``probed_format``, ``probed_width``, ``probed_height``."""
    dims = image_dimensions(F.col(content_col))
    with_fast = df.withColumn("_dims", dims)
    schema = T.StructType(with_fast.schema.fields + [
        T.StructField("probed_format", T.StringType(), True),
        T.StructField("probed_width", T.IntegerType(), True),
        T.StructField("probed_height", T.IntegerType(), True),
    ])

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            fmts, ws, hs = [], [], []
            for blob, d in zip(pdf[content_col], pdf["_dims"]):
                if d is not None and d.get("format") is not None:
                    fmts.append(d["format"])
                    ws.append(d["width"])
                    hs.append(d["height"])
                    continue
                j = _jpeg_dims(None if blob is None else bytes(blob))
                if j is not None:
                    fmts.append("jpeg"); ws.append(j[0]); hs.append(j[1])
                else:
                    fmts.append(None); ws.append(None); hs.append(None)
            out["probed_format"] = fmts
            out["probed_width"] = pd.array(ws, dtype="Int32")
            out["probed_height"] = pd.array(hs, dtype="Int32")
            yield out

    return with_fast.mapInPandas(probe, schema).drop("_dims")


def wav_metadata(c) -> "F.Column":
    """struct<channels,sample_rate,bits,duration_ms> off a canonical RIFF/
    WAVE header (fmt chunk at byte 13, data chunk at byte 37 — what every
    encoder writes for PCM). Non-canonical chunk orders return NULL; route
    those through ``probe_audio_metadata``'s stdlib walk. Pure codegen."""
    is_riff = (F.hex(F.substring(c, 1, 4)) == "52494646") & \
        (F.hex(F.substring(c, 9, 4)) == "57415645")
    canonical = (F.hex(F.substring(c, 13, 4)) == "666D7420") & \
        (F.hex(F.substring(c, 37, 4)) == "64617461")
    channels = _le_uint(c, 23, 2)
    sample_rate = _le_uint(c, 25, 4)
    byte_rate = _le_uint(c, 29, 4)
    bits = _le_uint(c, 35, 2)
    data_size = _le_uint(c, 41, 4)
    duration_ms = F.when(byte_rate > 0,
                         (data_size * 1000 / byte_rate).cast("long"))
    return F.when(
        is_riff & canonical & (F.length(c) >= 44),
        F.struct(channels.cast("int").alias("channels"),
                 sample_rate.cast("int").alias("sample_rate"),
                 bits.cast("int").alias("bits"),
                 duration_ms.alias("duration_ms")))


def _wav_walk(data: bytes):
    """Stdlib RIFF chunk walk for non-canonical chunk orders."""
    if data is None or len(data) < 12 or data[0:4] != b"RIFF" \
            or data[8:12] != b"WAVE":
        return None
    i, n = 12, len(data)
    fmt, size = None, None
    while i + 8 <= n:
        cid = data[i:i + 4]
        clen = int.from_bytes(data[i + 4:i + 8], "little")
        if cid == b"fmt " and i + 24 <= n:
            fmt = (int.from_bytes(data[i + 10:i + 12], "little"),   # channels
                   int.from_bytes(data[i + 12:i + 16], "little"),   # rate
                   int.from_bytes(data[i + 16:i + 20], "little"),   # byte rate
                   int.from_bytes(data[i + 22:i + 24], "little"))   # bits
        elif cid == b"data":
            size = clen
        i += 8 + clen + (clen & 1)
    if fmt is None or size is None:
        return None
    ch, rate, brate, bits = fmt
    return (ch, rate, bits, size * 1000 // brate if brate else None)


def _mp4_duration_ms(data: bytes):
    """Top-level box walk to moov/mvhd (ISO 14496-12): duration/timescale."""
    if data is None or len(data) < 16:
        return None

    def walk(lo, hi, depth=0):
        i = lo
        while i + 8 <= hi and depth < 4:
            size = int.from_bytes(data[i:i + 4], "big")
            box = data[i + 4:i + 8]
            if size < 8:
                return None
            if box == b"mvhd" and i + 8 + 20 <= hi:
                ver = data[i + 8]
                if ver == 1:
                    ts = int.from_bytes(data[i + 28:i + 32], "big")
                    dur = int.from_bytes(data[i + 32:i + 40], "big")
                else:
                    ts = int.from_bytes(data[i + 20:i + 24], "big")
                    dur = int.from_bytes(data[i + 24:i + 28], "big")
                return dur * 1000 // ts if ts else None
            if box == b"moov":
                got = walk(i + 8, min(i + size, hi), depth + 1)
                if got is not None:
                    return got
            i += size
        return None

    return walk(0, len(data))


def probe_audio_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Fill audio/video metadata decode-free: canonical WAV headers never
    leave the JVM (codegen probe); everything else takes one Arrow-batched
    stdlib pass (RIFF chunk walk, MP4 mvhd walk). Adds ``probed_channels``,
    ``probed_sample_rate``, ``probed_bits``, ``probed_duration_ms``."""
    with_fast = df.withColumn("_wav", wav_metadata(F.col(content_col)))
    schema = T.StructType(with_fast.schema.fields + [
        T.StructField("probed_channels", T.IntegerType(), True),
        T.StructField("probed_sample_rate", T.IntegerType(), True),
        T.StructField("probed_bits", T.IntegerType(), True),
        T.StructField("probed_duration_ms", T.LongType(), True),
    ])

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            ch, rate, bits, dur = [], [], [], []
            for blob, w in zip(pdf[content_col], pdf["_wav"]):
                if w is not None and w.get("channels") is not None:
                    ch.append(w["channels"]); rate.append(w["sample_rate"])
                    bits.append(w["bits"]); dur.append(w["duration_ms"])
                    continue
                b = None if blob is None else bytes(blob)
                got = _wav_walk(b)
                if got is not None:
                    ch.append(got[0]); rate.append(got[1])
                    bits.append(got[2]); dur.append(got[3])
                    continue
                mp4 = _mp4_duration_ms(b)
                ch.append(None); rate.append(None); bits.append(None)
                dur.append(mp4)
            out["probed_channels"] = pd.array(ch, dtype="Int32")
            out["probed_sample_rate"] = pd.array(rate, dtype="Int32")
            out["probed_bits"] = pd.array(bits, dtype="Int32")
            out["probed_duration_ms"] = pd.array(dur, dtype="Int64")
            yield out

    return with_fast.mapInPandas(probe, schema).drop("_wav")


def bmp_dhash(c) -> "F.Column":
    """Perceptual difference-hash (dHash) of an UNCOMPRESSED 24-bit BMP
    blob as pure expressions — the first image-CONTENT operator that
    needs no decoder: BMP stores raw pixel rows at a header-declared
    offset, so the standard dHash recipe (sample a 9x8 grayscale grid,
    emit one bit per horizontal neighbor comparison, 64 bits total)
    compiles to 72 fixed-arithmetic byte probes. Compressed formats
    (PNG/JPEG) still need the env-gated decoder path — this gives the
    image near-dup tier a REAL, testable member in any environment
    (pipeline: exact digest dedup -> bmp_dhash perceptual pairs via the
    same banded 64-bit hamming search the SimHash index uses).

    Recipe details (pinned by the python-mirror law test): grid point
    (gx, gy) samples the pixel at (floor(gx*W/9), floor(gy*H/8)) —
    integer-exact arithmetic, no resampling kernel; gray = B+G+R (an
    order-preserving luminance proxy — dHash only compares); bit index
    i = gy*8+gx set iff gray(gx,gy) > gray(gx+1,gy); bottom-up and
    top-down (negative height) row orders both handled. Returns BIGINT
    (bit 63 may set the sign — it is a hash, compare with
    bit_count(a ^ b)); NULL for NULL/short input, non-BMP magic,
    bpp != 24, compressed BMPs (BI_RGB only), or images smaller than
    the 9x8 grid."""
    hdr = F.struct(
        _le_uint(c, 11, 4).alias("off"),
        _le_int32(c, 19).alias("w"),
        _le_int32(c, 23).alias("h_raw"),
        _le_uint(c, 29, 2).alias("bpp"),
        _le_uint(c, 31, 4).alias("comp"))

    def with_hdr(m):
        w = m["w"]
        h = F.abs(m["h_raw"])
        bottom_up = m["h_raw"] > 0
        w3 = w * 3
        stride = (w3 + 3) - F.pmod(w3 + 3, F.lit(4))

        def gray(gx: int, gy: int):
            # integer-exact floor(gx*w/9), floor(gy*h/8): subtract the
            # remainder, then the double division of an exact multiple
            # is exact
            gxw = w * gx
            px = ((gxw - F.pmod(gxw, F.lit(9))) / 9).cast("long")
            gyh = h * gy
            py = ((gyh - F.pmod(gyh, F.lit(8))) / 8).cast("long")
            row = F.when(bottom_up, h - 1 - py).otherwise(py)
            pos = (m["off"] + row * stride + px * 3 + 1).cast("int")
            b0 = F.conv(F.hex(c.substr(pos, F.lit(3))), 16, 10) \
                .cast("long")
            # the 3-byte big-endian int b0 = B*65536 + G*256 + R; the
            # byte SUM is what dHash compares: fold the base-256 digits
            return (b0 % 256) + ((b0 / 256).cast("long") % 256) + \
                (b0 / 65536).cast("long")

        h64 = F.lit(0).cast("long")
        for gy in range(8):
            for gx in range(8):
                bit = gray(gx, gy) > gray(gx + 1, gy)
                h64 = h64.bitwiseOR(
                    F.when(bit, F.shiftleft(F.lit(1).cast("long"),
                                            gy * 8 + gx))
                    .otherwise(F.lit(0).cast("long")))
        ok = (m["bpp"] == 24) & (m["comp"] == 0) & (w >= 9) & (h >= 8) \
            & (F.length(c) >= m["off"] + h * stride)
        return F.when(ok, h64)

    is_bmp = F.hex(F.substring(c, 1, 2)) == "424D"
    out = F.get(F.transform(F.array(hdr), with_hdr), 0)
    return F.when(c.isNull() | (F.length(c) < 54) | ~is_bmp,
                  F.lit(None).cast("bigint")).otherwise(out)


def bmp_dhash_py(data: bytes) -> int | None:
    """Pure-Python mirror of ``bmp_dhash`` (the law-test partner)."""
    if data is None or len(data) < 54 or data[:2] != b"BM":
        return None
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h_raw = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    h = abs(h_raw)
    stride = (w * 3 + 3) // 4 * 4
    if bpp != 24 or comp != 0 or w < 9 or h < 8 or \
            len(data) < off + h * stride:
        return None

    def gray(gx, gy):
        px = gx * w // 9
        py = gy * h // 8
        row = (h - 1 - py) if h_raw > 0 else py
        p = off + row * stride + px * 3
        return data[p] + data[p + 1] + data[p + 2]

    out = 0
    for gy in range(8):
        for gx in range(8):
            if gray(gx, gy) > gray(gx + 1, gy):
                out |= 1 << (gy * 8 + gx)
    if out >= 2**63:
        out -= 2**64   # BIGINT sign, same as shiftleft(1L, 63)
    return out


def wav_energy_sig(c, probes_per_bin: int = 8) -> "F.Column":
    """Volume-invariant 64-bit energy-envelope fingerprint of a
    canonical PCM16 WAV blob — the audio sibling of ``bmp_dhash``, and
    like it decoder-free: PCM samples sit at fixed arithmetic offsets
    after the canonical 44-byte header, so the envelope is pure byte
    probes. Recipe (pinned by the python-mirror law): the data section
    splits into 16 time bins; each bin's energy = Σ|sample| over
    ``probes_per_bin`` evenly spaced int16 probes (first channel);
    each bin emits a 4-bit THERMOMETER code against the whole-signal
    mean energy (thresholds 0.5/1/1.5/2 x mean, integer-exact
    comparisons) — monotone unary coding, so hamming distance between
    signatures tracks envelope difference, and scaling the volume
    scales bin and mean energies together (invariance law). Compare
    with ``dedup.sig_near_dup_pairs``. NULL for NULL/short input,
    non-canonical chunk order, or non-PCM16 data."""
    n_bins = 16
    data_size = _le_uint(c, 41, 4)
    channels = _le_uint(c, 23, 2)
    bits = _le_uint(c, 35, 2)
    hdr = F.struct(
        data_size.alias("ds"),
        (data_size / (channels * 2)).cast("long").alias("n_samples"),
        (channels * 2).alias("frame"))

    def with_hdr(m):
        n = m["n_samples"]
        total_probes = n_bins * probes_per_bin

        def sample_abs(k: int):
            # probe k of total: sample index floor(k * n / total),
            # integer-exact via subtract-remainder
            kn = n * k
            idx = ((kn - F.pmod(kn, F.lit(total_probes)))
                   / total_probes).cast("long")
            pos = (F.lit(45) + idx * m["frame"]).cast("int")
            u = F.conv(F.hex(c.substr(pos, F.lit(1))), 16, 10) \
                .cast("long") + \
                F.conv(F.hex(c.substr(pos + 1, F.lit(1))), 16, 10) \
                .cast("long") * 256
            s = F.when(u >= 32768, u - 65536).otherwise(u)
            return F.abs(s)

        bins = F.array(*[
            sum([sample_abs(b * probes_per_bin + j)
                 for j in range(probes_per_bin)], F.lit(0).cast("long"))
            for b in range(n_bins)])

        # bind the bin-energy array, then the total, as lambda
        # variables: the naive form re-inlined every probe subtree into
        # each of the 64 threshold comparisons (observed: plan blow-up
        # that killed the JVM — the engine-wide bind-once rule)
        def with_bins(eb):
            def with_total(tot):
                sig = F.lit(0).cast("long")
                # 4-bit thermometer per bin: e > total*k/32 integer tests
                for b in range(n_bins):
                    e = F.element_at(eb, b + 1)
                    for t, (lhs, rhs) in enumerate([(32, 1), (16, 1),
                                                    (32, 3), (8, 1)]):
                        bit = (e * lhs) > (tot * rhs)
                        sig = sig.bitwiseOR(
                            F.when(bit,
                                   F.shiftleft(F.lit(1).cast("long"),
                                               b * 4 + t))
                            .otherwise(F.lit(0).cast("long")))
                ok = (n >= total_probes) & \
                    (F.length(c) >= F.lit(44) + m["ds"]) & (tot > 0)
                return F.when(ok, sig)

            total = F.aggregate(eb, F.lit(0).cast("long"),
                                lambda a, x: a + x)
            return F.get(F.transform(F.array(total), with_total), 0)

        return F.get(F.transform(F.array(bins), with_bins), 0)

    is_riff = (F.hex(F.substring(c, 1, 4)) == "52494646") & \
        (F.hex(F.substring(c, 9, 4)) == "57415645")
    canonical = (F.hex(F.substring(c, 13, 4)) == "666D7420") & \
        (F.hex(F.substring(c, 37, 4)) == "64617461")
    out = F.get(F.transform(F.array(hdr), with_hdr), 0)
    return F.when(c.isNull() | (F.length(c) < 44) | ~is_riff |
                  ~canonical | (bits != 16) | (channels < 1),
                  F.lit(None).cast("bigint")).otherwise(out)


def wav_energy_sig_py(data: bytes, probes_per_bin: int = 8) -> int | None:
    """Pure-Python mirror of ``wav_energy_sig`` (the law-test partner)."""
    if data is None or len(data) < 44 or data[:4] != b"RIFF" or \
            data[8:12] != b"WAVE" or data[12:16] != b"fmt " or \
            data[36:40] != b"data":
        return None
    channels = int.from_bytes(data[22:24], "little")
    bits = int.from_bytes(data[34:36], "little")
    ds = int.from_bytes(data[40:44], "little")
    if bits != 16 or channels < 1 or len(data) < 44 + ds:
        return None
    frame = channels * 2
    n = ds // frame
    n_bins = 16
    total_probes = n_bins * probes_per_bin
    if n < total_probes:
        return None

    def sample_abs(k):
        idx = n * k // total_probes
        p = 44 + idx * frame
        s = int.from_bytes(data[p:p + 2], "little", signed=True)
        return abs(s)

    bins = [sum(sample_abs(b * probes_per_bin + j)
                for j in range(probes_per_bin)) for b in range(n_bins)]
    total = sum(bins)
    if total == 0:
        return None
    sig = 0
    for b, e in enumerate(bins):
        for t, (lhs, rhs) in enumerate([(32, 1), (16, 1), (32, 3),
                                        (8, 1)]):
            if e * lhs > total * rhs:
                sig |= 1 << (b * 4 + t)
    return sig
