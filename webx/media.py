"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed by Arrow-batched ``mapInPandas`` ops.

The Spark-side plumbing — schema, batch shape, UDF signatures, partition
behavior — is real and tested. METADATA is real too: image payloads go
through a pure-struct JPEG/PNG/GIF/WebP header parse
(``sniff_image_meta`` — magic numbers, marker walks, chunk structure per
the public specs; no library needed). Only the PIXEL-level codec step is
stubbed because no image/audio library ships in this container: those ops
run the clearly-marked DETERMINISTIC FAKE codec (pure byte arithmetic) so
the pipeline stays oracle-checkable end-to-end.

This mirrors how the reference treats images as opaque bytes until
``DecodeImage`` materializes them (mindocr/data/transforms/
general_transforms.py:17-53) and batches them through a fixed-schema
pipeline (mindocr/data/builder.py:154-161).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake media table derived from the documents table:
    payload bytes = utf-8 of the doc text repeated (kind-dependent), meta
    derived from doc_id arithmetic. JVM-side synthesis only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = F.encode(F.concat(F.col("text"), F.lit("|"), F.col("text")), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.concat(F.lit("x-fake/"), kind).alias("mime"),
            (64 + F.col("doc_id") % 193).cast("int").alias("width"),
            (48 + F.col("doc_id") % 129).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            (1 + F.col("doc_id") % 7).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _features_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """DETERMINISTIC FAKE decode: per-payload byte statistics standing in
    for pixel/sample decoding. Real plumbing: binary → numpy → features."""
    out = {"media_id": [], "kind": [], "n_bytes": [], "byte_sum": [], "feature": []}
    for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
        buf = np.frombuffer(bytes(payload) if payload is not None else b"", dtype=np.uint8)
        n = int(buf.size)
        s = int(buf.sum()) if n else 0
        # 8-bin byte histogram, normalized — the "embedding" of the fake codec
        hist = np.bincount(buf >> 5, minlength=8).astype(np.float64) if n else np.zeros(8)
        feat = (hist / max(n, 1)).tolist()
        out["media_id"].append(mid)
        out["kind"].append(kind)
        out["n_bytes"].append(n)
        out["byte_sum"].append(s)
        out["feature"].append(feat)
    return pd.DataFrame(out)


def media_features(media: DataFrame) -> DataFrame:
    """(media_id, kind, n_bytes, byte_sum, feature[8]) via mapInPandas."""

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _features_batch(pdf)

    return media.select("media_id", "kind", "payload").mapInPandas(
        fn, schema=FEATURES_SCHEMA
    )


# ------------------------------------------------------------- image headers
# Pure-struct JPEG/PNG/GIF/WebP dimension + validity sniffing from the
# PUBLIC format specs (ISO 10918 JPEG markers, RFC 2083 PNG, GIF89a,
# RIFF/WebP container incl. VP8/VP8L/VP8X). This is the DEFAULT metadata
# path for image payloads — real bytes are actually parsed (the analog of
# the reference's DecodeImage materializing real buffers,
# mindocr/data/transforms/general_transforms.py:35-46); only pixel-level
# ops still use the fake codec below. No library needed: stdlib struct
# arithmetic, deterministic, total (never raises on garbage).


def _jpeg_dims(b: bytes):
    """Walk JPEG markers to the first SOF frame header. Returns
    (w, h) or None. Skips APPn/COM/DQT/…; stand-alone markers
    (RSTn/TEM/SOI) carry no length field."""
    n = len(b)
    i = 2
    while i + 4 <= n:
        if b[i] != 0xFF:
            return None
        m = b[i + 1]
        if m == 0xFF:  # fill byte
            i += 1
            continue
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:  # SOI/TEM/RSTn
            i += 2
            continue
        if m == 0xD9:  # EOI before any SOF
            return None
        seglen = int.from_bytes(b[i + 2 : i + 4], "big")
        if seglen < 2 or i + 2 + seglen > n:
            return None
        if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):  # SOFn
            if seglen < 7:
                return None
            h = int.from_bytes(b[i + 5 : i + 7], "big")
            w = int.from_bytes(b[i + 7 : i + 9], "big")
            return (w, h) if w > 0 and h > 0 else None
        i += 2 + seglen
    return None


def _webp_dims(b: bytes):
    """RIFF/WEBP: VP8 (lossy frame tag), VP8L (lossless 14-bit pack),
    VP8X (extended 24-bit canvas). Returns (w, h) or None."""
    if len(b) < 16:
        return None
    fourcc = b[12:16]
    if fourcc == b"VP8 ":
        # 3-byte frame tag, then start code 9D 01 2A, then 14-bit dims
        if len(b) < 30 or b[23:26] != b"\x9d\x01\x2a":
            return None
        w = int.from_bytes(b[26:28], "little") & 0x3FFF
        h = int.from_bytes(b[28:30], "little") & 0x3FFF
        return (w, h) if w > 0 and h > 0 else None
    if fourcc == b"VP8L":
        if len(b) < 25 or b[20] != 0x2F:
            return None
        bits = int.from_bytes(b[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return (w, h)
    if fourcc == b"VP8X":
        if len(b) < 30:
            return None
        w = int.from_bytes(b[24:27], "little") + 1
        h = int.from_bytes(b[27:30], "little") + 1
        return (w, h)
    return None


def sniff_image_meta(payload: "bytes | None"):
    """(fmt, width, height, valid) from real image bytes. ``fmt`` is
    detected from the magic number (None when unrecognizable); dims are
    parsed from the format's own header structure; ``valid`` means the
    structure parsed through to positive dimensions. Total function —
    arbitrary bytes (fuzz-tested) can never raise."""
    b = bytes(payload) if payload else b""
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        if (
            len(b) >= 24
            and b[12:16] == b"IHDR"
            and int.from_bytes(b[8:12], "big") >= 13
        ):
            w = int.from_bytes(b[16:20], "big")
            h = int.from_bytes(b[20:24], "big")
            if 0 < w < 2**31 and 0 < h < 2**31:
                return ("png", w, h, True)
        return ("png", None, None, False)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        if len(b) >= 10:
            w = int.from_bytes(b[6:8], "little")
            h = int.from_bytes(b[8:10], "little")
            if w > 0 and h > 0:
                return ("gif", w, h, True)
        return ("gif", None, None, False)
    if b[:2] == b"\xff\xd8":
        dims = _jpeg_dims(b)
        if dims:
            return ("jpeg", dims[0], dims[1], True)
        return ("jpeg", None, None, False)
    if b[:4] == b"RIFF" and len(b) >= 12 and b[8:12] == b"WEBP":
        dims = _webp_dims(b)
        if dims:
            return ("webp", dims[0], dims[1], True)
        return ("webp", None, None, False)
    if b[:2] == b"BM" and len(b) >= 18:
        # BITMAPINFOHEADER (40+, signed dims; negative height = top-down)
        # or the ancient BITMAPCOREHEADER (12, u16 dims)
        hsz = int.from_bytes(b[14:18], "little")
        if hsz >= 40 and len(b) >= 26:
            w = int.from_bytes(b[18:22], "little", signed=True)
            h = abs(int.from_bytes(b[22:26], "little", signed=True))
            if w > 0 and h > 0:
                return ("bmp", w, h, True)
        elif hsz == 12 and len(b) >= 22:
            w = int.from_bytes(b[18:20], "little")
            h = int.from_bytes(b[20:22], "little")
            if w > 0 and h > 0:
                return ("bmp", w, h, True)
        return ("bmp", None, None, False)
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        # TIFF: endian magic + IFD walk; ImageWidth (256) / ImageLength
        # (257) entries as SHORT or LONG values
        endian = "little" if b[:2] == b"II" else "big"

        def _u(o, n):
            return int.from_bytes(b[o : o + n], endian)

        if len(b) >= 8:
            ifd = _u(4, 4)
            if ifd + 2 <= len(b):
                cnt = _u(ifd, 2)
                w = h = None
                for k in range(cnt):
                    e = ifd + 2 + 12 * k
                    if e + 12 > len(b):
                        break
                    tag, typ = _u(e, 2), _u(e + 2, 2)
                    val = _u(e + 8, 2 if typ == 3 else 4)
                    if tag == 256:
                        w = val
                    elif tag == 257:
                        h = val
                if w and h:
                    return ("tiff", w, h, True)
        return ("tiff", None, None, False)
    if b[:4] == b"\x00\x00\x01\x00" and len(b) >= 8:
        # ICO: first directory entry; 0 byte means 256
        w = b[6] or 256
        h = b[7] or 256
        return ("ico", w, h, True)
    if len(b) >= 12 and b[4:8] == b"ftyp" and b[8:12] in (b"avif", b"avis"):
        # ISO-BMFF image: meta (FullBox) -> iprp -> ipco -> ispe (FullBox
        # carrying u32 width/height) — reuse the MP4 box walk
        for btype, s, e in _walk_boxes(b, 0, len(b)):
            if btype != b"meta":
                continue
            for t1, s1, e1 in _walk_boxes(b, s + 4, e):  # +4: FullBox ver/flags
                if t1 != b"iprp":
                    continue
                for t2, s2, e2 in _walk_boxes(b, s1, e1):
                    if t2 != b"ipco":
                        continue
                    for t3, s3, e3 in _walk_boxes(b, s2, e2):
                        if t3 == b"ispe" and e3 - s3 >= 12:
                            w = int.from_bytes(b[s3 + 4 : s3 + 8], "big")
                            h = int.from_bytes(b[s3 + 8 : s3 + 12], "big")
                            if w > 0 and h > 0:
                                return ("avif", w, h, True)
        return ("avif", None, None, False)
    return (None, None, None, False)


# Deterministic REAL-header synthesis: valid minimal files of each
# format with the requested dimensions (pixel data fake/minimal, headers
# spec-exact) — the oracle knows the dims closed-form, the engine must
# recover them by actually parsing the bytes it is handed.


def png_bytes(w: int, h: int) -> bytes:
    import zlib

    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x00\x00\x00\x00"
    out = [b"\x89PNG\r\n\x1a\n"]
    for tag, body in ((b"IHDR", ihdr), (b"IEND", b"")):
        out.append(len(body).to_bytes(4, "big"))
        out.append(tag)
        out.append(body)
        out.append(zlib.crc32(tag + body).to_bytes(4, "big"))
    return b"".join(out)


def gif_bytes(w: int, h: int) -> bytes:
    return (
        b"GIF89a"
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + b"\x00\x00\x00\x3b"
    )


def jpeg_bytes(w: int, h: int) -> bytes:
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    com = b"\xff\xfe\x00\x06webx"  # a COM segment the walker must skip
    sof0 = (
        b"\xff\xc0\x00\x0b\x08"
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + b"\x01\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + com + sof0 + b"\xff\xd9"


def webp_bytes(w: int, h: int, variant: str = "vp8") -> bytes:
    if variant == "vp8":
        body = (
            b"\x00\x00\x00"  # frame tag (key frame)
            + b"\x9d\x01\x2a"
            + w.to_bytes(2, "little")
            + h.to_bytes(2, "little")
        )
        chunk = b"VP8 " + len(body).to_bytes(4, "little") + body
    elif variant == "vp8l":
        bits = (w - 1) | ((h - 1) << 14)
        body = b"\x2f" + bits.to_bytes(4, "little")
        chunk = b"VP8L" + len(body).to_bytes(4, "little") + body
    else:  # vp8x extended canvas
        body = (
            b"\x00\x00\x00\x00"
            + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little")
        )
        chunk = b"VP8X" + len(body).to_bytes(4, "little") + body
    riff = b"WEBP" + chunk
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("valid", T.BooleanType()),
    ]
)


def synth_image_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) with REAL format headers: format cycles
    png/gif/jpeg/webp by media_id % 4 (webp subdivides % 12 into its
    vp8/vp8l/vp8x variants), dims are the synth_media closed forms
    (w = 64 + id % 193, h = 48 + id % 129), and every 17th payload is
    truncated to a single byte (no magic survives → fmt NULL, valid
    false).
    Arrow-batched construction — byte packing needs Python."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gens = {0: png_bytes, 1: gif_bytes, 2: jpeg_bytes}
        for pdf in batches:
            out = {"media_id": [], "payload": []}
            for mid in pdf["doc_id"].tolist():
                mid = int(mid)
                w, h = 64 + mid % 193, 48 + mid % 129
                if mid % 4 == 3:
                    variant = {3: "vp8", 7: "vp8l", 11: "vp8x"}[mid % 12]
                    raw = webp_bytes(w, h, variant)
                else:
                    raw = gens[mid % 4](w, h)
                if mid % 17 == 0:
                    raw = raw[:1]
                out["media_id"].append(mid)
                out["payload"].append(raw)
            yield pd.DataFrame(out)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id").mapInPandas(fn, schema=schema)


def image_meta(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(media_id, fmt, width, height, valid) by parsing each payload's
    real header bytes — one Arrow mapInPandas, no shuffle."""

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "fmt": [], "width": [], "height": [], "valid": []}
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                fmt, w, h, ok = sniff_image_meta(payload)
                out["media_id"].append(mid)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["valid"].append(ok)
            yield pd.DataFrame(out)

    return media.select("media_id", payload_col).mapInPandas(
        fn, schema=IMAGE_META_SCHEMA
    )




# ------------------------------------------------------------- audio headers
# Same real-bytes contract as the image sniffer: WAV (RIFF fmt chunk),
# FLAC (STREAMINFO bit-pack), MP3 (MPEG-1 Layer III frame header sync +
# sample-rate/channel-mode fields) — public specs, stdlib arithmetic,
# total on garbage.

_MP3_SR = {0: 44100, 1: 48000, 2: 32000}


def sniff_audio_meta(payload: "bytes | None"):
    """(fmt, sample_rate, channels, valid) from real audio bytes."""
    b = bytes(payload) if payload else b""
    if b[:4] == b"RIFF" and len(b) >= 12 and b[8:12] == b"WAVE":
        # chunk walk to "fmt "
        i = 12
        while i + 8 <= len(b):
            cid = b[i : i + 4]
            clen = int.from_bytes(b[i + 4 : i + 8], "little")
            if cid == b"fmt " and clen >= 16 and i + 8 + 16 <= len(b):
                ch = int.from_bytes(b[i + 10 : i + 12], "little")
                sr = int.from_bytes(b[i + 12 : i + 16], "little")
                if ch > 0 and sr > 0:
                    return ("wav", sr, ch, True)
                break
            i += 8 + clen + (clen & 1)  # chunks are word-aligned
        return ("wav", None, None, False)
    if b[:4] == b"fLaC":
        # METADATA_BLOCK_STREAMINFO: type 0, length 34, starts at 4
        if len(b) >= 4 + 4 + 34 and (b[4] & 0x7F) == 0:
            # STREAMINFO data begins at byte 8; sample rate is the 20
            # bits at data offset 10, channels the next 3 bits
            sr = (b[18] << 12) | (b[19] << 4) | (b[20] >> 4)
            ch = ((b[20] >> 1) & 0x07) + 1
            if sr > 0:
                return ("flac", sr, ch, True)
        return ("flac", None, None, False)
    if b[:4] == b"OggS":
        # first page: 27-byte header + segment table, then the first
        # packet — Vorbis identification header or OpusHead (public
        # RFC 3533 / Vorbis I / RFC 7845 layouts)
        if len(b) >= 28:
            nseg = b[26]
            p = 27 + nseg
            pkt = b[p : p + 19]
            if pkt[:7] == b"\x01vorbis" and len(pkt) >= 16:
                ch = pkt[11]
                sr = int.from_bytes(pkt[12:16], "little")
                if ch > 0 and sr > 0:
                    return ("ogg", sr, ch, True)
            elif pkt[:8] == b"OpusHead" and len(pkt) >= 14:
                ch = pkt[9]
                sr = int.from_bytes(pkt[12:16], "little")
                if ch > 0 and sr > 0:
                    return ("opus", sr, ch, True)
        return ("ogg", None, None, False)
    if len(b) >= 4 and b[0] == 0xFF and (b[1] & 0xE0) == 0xE0:
        # 11-bit MPEG audio frame sync; valid only for MPEG-1 Layer III
        if (b[1] & 0x18) == 0x18 and (b[1] & 0x06) == 0x02:
            sr_idx = (b[2] >> 2) & 0x03
            if sr_idx in _MP3_SR:
                mode = (b[3] >> 6) & 0x03
                return ("mp3", _MP3_SR[sr_idx], 1 if mode == 3 else 2, True)
        return ("mp3", None, None, False)
    return (None, None, None, False)


def wav_bytes(sample_rate: int, channels: int) -> bytes:
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")            # PCM
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * channels * 2).to_bytes(4, "little")  # byte rate
        + (channels * 2).to_bytes(2, "little") # block align
        + (16).to_bytes(2, "little")           # bits/sample
    )
    data = b"data" + (4).to_bytes(4, "little") + b"\x00\x00\x00\x00"
    body = b"WAVE" + fmt + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def flac_bytes(sample_rate: int, channels: int) -> bytes:
    info = bytearray(34)
    info[0:2] = (1024).to_bytes(2, "big")   # min block size
    info[2:4] = (1024).to_bytes(2, "big")   # max block size
    info[10] = (sample_rate >> 12) & 0xFF
    info[11] = (sample_rate >> 4) & 0xFF
    info[12] = ((sample_rate & 0x0F) << 4) | (((channels - 1) & 0x07) << 1)
    return b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + bytes(info)


def mp3_bytes(sr_index: int, mono: bool) -> bytes:
    # MPEG-1 Layer III, no CRC; bitrate index 9 (128 kbps)
    hdr = bytes(
        (
            0xFF,
            0xFB,
            (9 << 4) | (sr_index << 2),
            (0x03 if mono else 0x00) << 6,
        )
    )
    return hdr + b"\x00" * 64  # a stub frame body


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("valid", T.BooleanType()),
    ]
)

_AUDIO_SR_CHOICES = (8000, 16000, 22050, 44100, 48000)


def synth_audio_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) with REAL audio headers: format cycles
    wav/flac/mp3 by media_id %% 3; wav/flac sample rate =
    _AUDIO_SR_CHOICES[id %% 5], channels = 1 + id %% 2; mp3 rate from its
    header table by id %% 3 (sr_index id%%3 in {0,1,2}), mono when
    id %% 2 == 0. Every 13th payload truncates to one byte."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "payload": []}
            for mid in pdf["doc_id"].tolist():
                mid = int(mid)
                sr = _AUDIO_SR_CHOICES[mid % 5]
                ch = 1 + mid % 2
                k = mid % 3
                if k == 0:
                    raw = wav_bytes(sr, ch)
                elif k == 1:
                    raw = flac_bytes(sr, ch)
                else:
                    raw = mp3_bytes((mid // 3) % 3, mid % 2 == 0)
                if mid % 13 == 0:
                    raw = raw[:1]
                out["media_id"].append(mid)
                out["payload"].append(raw)
            yield pd.DataFrame(out)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id").mapInPandas(fn, schema=schema)


def audio_meta(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(media_id, fmt, sample_rate, channels, valid) by parsing real
    audio headers — one Arrow mapInPandas, no shuffle."""

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "fmt": [], "sample_rate": [],
                "channels": [], "valid": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                fmt, sr, ch, ok = sniff_audio_meta(payload)
                out["media_id"].append(mid)
                out["fmt"].append(fmt)
                out["sample_rate"].append(sr)
                out["channels"].append(ch)
                out["valid"].append(ok)
            yield pd.DataFrame(out)

    return media.select("media_id", payload_col).mapInPandas(
        fn, schema=AUDIO_META_SCHEMA
    )



# ------------------------------------------------------------- video headers
# ISO base media file format (MP4/MOV, public ISO 14496-12): box walk to
# moov → mvhd (timescale/duration → milliseconds) and the first video
# trak → tkhd (16.16 fixed-point presentation dims). Total on garbage;
# 64-bit largesize boxes and version-1 mvhd/tkhd handled.


def _walk_boxes(b: bytes, start: int, end: int):
    """Yield (box_type, payload_start, payload_end) at one nesting level."""
    i = start
    while i + 8 <= end:
        size = int.from_bytes(b[i : i + 4], "big")
        btype = b[i + 4 : i + 8]
        hdr = 8
        if size == 1:  # 64-bit largesize
            if i + 16 > end:
                return
            size = int.from_bytes(b[i + 8 : i + 16], "big")
            hdr = 16
        elif size == 0:  # box runs to EOF
            size = end - i
        if size < hdr or i + size > end:
            return
        yield btype, i + hdr, i + size
        i += size


def sniff_video_meta(payload: "bytes | None"):
    """(fmt, width, height, duration_ms, valid) from real MP4 bytes:
    ftyp detect, moov/mvhd for duration, first non-degenerate tkhd for
    presentation dims."""
    b = bytes(payload) if payload else b""
    if len(b) < 12 or b[4:8] != b"ftyp":
        return (None, None, None, None, False)
    dur_ms = None
    w = h = None
    for btype, s, e in _walk_boxes(b, 0, len(b)):
        if btype != b"moov":
            continue
        for ctype, cs, ce in _walk_boxes(b, s, e):
            if ctype == b"mvhd" and ce - cs >= 20:
                ver = b[cs]
                if ver == 1 and ce - cs >= 28:
                    ts = int.from_bytes(b[cs + 20 : cs + 24], "big")
                    dur = int.from_bytes(b[cs + 24 : cs + 32], "big")
                else:
                    ts = int.from_bytes(b[cs + 12 : cs + 16], "big")
                    dur = int.from_bytes(b[cs + 16 : cs + 20], "big")
                if ts > 0:
                    dur_ms = dur * 1000 // ts
            elif ctype == b"trak" and w is None:
                for ttype, ts_, te_ in _walk_boxes(b, cs, ce):
                    if ttype == b"tkhd" and te_ - ts_ >= 84:
                        ver = b[ts_]
                        off = ts_ + (96 if ver == 1 else 84) - 8
                        if off + 8 <= te_:
                            tw = int.from_bytes(b[off : off + 4], "big") >> 16
                            th = int.from_bytes(b[off + 4 : off + 8], "big") >> 16
                            if tw > 0 and th > 0:  # audio tracks are 0x0
                                w, h = tw, th
                        break
    if dur_ms is not None and w is not None:
        return ("mp4", w, h, dur_ms, True)
    return ("mp4", None, None, None, False)


def _box(btype: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + btype + payload


def mp4_bytes(width: int, height: int, duration_ms: int,
              timescale: int = 1000, version: int = 0) -> bytes:
    """Minimal spec-exact MP4: ftyp + moov(mvhd + audio trak + video
    trak) — the audio track's 0x0 tkhd dims exercise the first-video
    scan; ``version=1`` emits 64-bit mvhd/tkhd layouts."""
    dur = duration_ms * timescale // 1000
    if version == 1:
        mvhd = (
            b"\x01\x00\x00\x00" + b"\x00" * 16
            + timescale.to_bytes(4, "big") + dur.to_bytes(8, "big")
            + b"\x00" * 80
        )
        tkhd_dims = lambda tw, th: (
            b"\x01\x00\x00\x07" + b"\x00" * 84
            + (tw << 16).to_bytes(4, "big") + (th << 16).to_bytes(4, "big")
        )
    else:
        mvhd = (
            b"\x00" * 12
            + timescale.to_bytes(4, "big") + dur.to_bytes(4, "big")
            + b"\x00" * 80
        )
        tkhd_dims = lambda tw, th: (
            b"\x00\x00\x00\x07" + b"\x00" * 72
            + (tw << 16).to_bytes(4, "big") + (th << 16).to_bytes(4, "big")
        )
    audio_trak = _box(b"trak", _box(b"tkhd", tkhd_dims(0, 0)))
    video_trak = _box(b"trak", _box(b"tkhd", tkhd_dims(width, height)))
    moov = _box(b"moov", _box(b"mvhd", mvhd) + audio_trak + video_trak)
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    return ftyp + moov


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("valid", T.BooleanType()),
    ]
)


def synth_video_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) with REAL MP4 boxes: dims = the synth_media
    closed forms (w=64+id%193, h=48+id%129), duration_ms = 1000 +
    (id % 89) * 250, 64-bit v1 layout when id % 7 == 3; every 19th
    payload truncates to one byte."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "payload": []}
            for mid in pdf["doc_id"].tolist():
                mid = int(mid)
                raw = mp4_bytes(
                    64 + mid % 193,
                    48 + mid % 129,
                    1000 + (mid % 89) * 250,
                    version=1 if mid % 7 == 3 else 0,
                )
                if mid % 19 == 0:
                    raw = raw[:1]
                out["media_id"].append(mid)
                out["payload"].append(raw)
            yield pd.DataFrame(out)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id").mapInPandas(fn, schema=schema)


def video_meta(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(media_id, fmt, width, height, duration_ms, valid) by parsing
    real MP4 box structure — one Arrow mapInPandas, no shuffle."""

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "fmt": [], "width": [], "height": [],
                "duration_ms": [], "valid": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                fmt, w, h, dur, ok = sniff_video_meta(payload)
                out["media_id"].append(mid)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["duration_ms"].append(dur)
                out["valid"].append(ok)
            yield pd.DataFrame(out)

    return media.select("media_id", payload_col).mapInPandas(
        fn, schema=VIDEO_META_SCHEMA
    )


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling over the fake video payload: split payload into
    ``meta.n_frames`` equal chunks, keep every ``every_n``-th — real
    distributed slicing (pure byte arithmetic, deterministic)."""
    frames_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame": []}
            for mid, payload, nf in zip(
                pdf["media_id"], pdf["payload"], pdf["n_frames"]
            ):
                raw = bytes(payload) if payload is not None else b""
                nf = max(int(nf), 1)
                step = max(len(raw) // nf, 1)
                for i in range(0, nf, every_n):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame"].append(raw[i * step : (i + 1) * step])
            yield pd.DataFrame(out)

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "payload", F.col("meta.n_frames").alias("n_frames"))
        .mapInPandas(fn, schema=frames_schema)
    )
