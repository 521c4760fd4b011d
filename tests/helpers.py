"""Test helpers: input generators and a Block-list stage-1 driver.

The generators write minimal media headers (BMP, AVIF, TIFF, ICO, Ogg
Vorbis/Opus), a sharded keyed store and a PDF under a /Differences
simple font. No lane produces these formats; the tests feed them to the
sniffers and readers that parse them.
"""

from __future__ import annotations

import os
import zlib
from typing import Dict, List, Sequence, Tuple

import numpy as np

from webx.config import ExtractConfig
from webx.detect import Span, block_scores, merge_runs_table
from webx.media import _box
from webx.pdf import _AGL, _classic_assemble, _esc
from webx.sources import encode_keyed_shard
from webx.tokenize import Block


def bmp_bytes(w: int, h: int) -> bytes:
    dib = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + b"\x00" * 24
    )
    head = b"BM" + (14 + 40).to_bytes(4, "little") + b"\x00" * 4 + (54).to_bytes(4, "little")
    return head + dib


def avif_bytes(w: int, h: int) -> bytes:
    ispe = _box(b"ispe", b"\x00" * 4 + w.to_bytes(4, "big") + h.to_bytes(4, "big"))
    meta = _box(b"meta", b"\x00" * 4 + _box(b"iprp", _box(b"ipco", ispe)))
    ftyp = _box(b"ftyp", b"avif\x00\x00\x00\x00avifmif1")
    return ftyp + meta


def tiff_bytes(w: int, h: int, big_endian: bool = False) -> bytes:
    endian = "big" if big_endian else "little"
    magic = b"MM\x00*" if big_endian else b"II*\x00"
    out = magic + (8).to_bytes(4, endian)
    entries = [(256, 3, w), (257, 3, h)]
    out += len(entries).to_bytes(2, endian)
    for tag, typ, val in entries:
        out += (
            tag.to_bytes(2, endian) + typ.to_bytes(2, endian)
            + (1).to_bytes(4, endian) + val.to_bytes(2, endian) + b"\x00\x00"
        )
    out += (0).to_bytes(4, endian)
    return out


def ico_bytes(w: int, h: int) -> bytes:
    return (
        b"\x00\x00\x01\x00\x01\x00"
        + bytes([w % 256, h % 256])
        + b"\x00" * 8
    )


def ogg_vorbis_bytes(sample_rate: int, channels: int) -> bytes:
    """Minimal first Ogg page carrying a Vorbis identification header."""
    pkt = (
        b"\x01vorbis" + (0).to_bytes(4, "little")
        + bytes([channels]) + sample_rate.to_bytes(4, "little")
        + b"\x00" * 12 + b"\x01"
    )
    hdr = (
        b"OggS\x00\x02" + b"\x00" * 8 + b"\x01\x00\x00\x00"
        + b"\x00\x00\x00\x00" + b"\x00\x00\x00\x00"
        + bytes([1, len(pkt)])
    )
    return hdr + pkt


def ogg_opus_bytes(sample_rate: int, channels: int) -> bytes:
    """Minimal first Ogg page carrying an OpusHead (RFC 7845)."""
    pkt = (
        b"OpusHead\x01" + bytes([channels]) + (312).to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little") + b"\x00\x00\x00"
    )
    hdr = (
        b"OggS\x00\x02" + b"\x00" * 8 + b"\x02\x00\x00\x00"
        + b"\x00\x00\x00\x00" + b"\x00\x00\x00\x00"
        + bytes([1, len(pkt)])
    )
    return hdr + pkt


def write_keyed_store(
    records: List[Tuple[str, str, bytes]], path: str, shards: int = 8
) -> None:
    """Fixture writer: round-robin records into ``shards`` shard files
    under ``path`` (records keep their given order globally: shard s
    gets records s, s+shards, …  — so global order = interleave; tests
    use the parsed ``global_idx`` which is defined by shard-path order,
    NOT the writer's input order)."""
    os.makedirs(path, exist_ok=True)
    for s in range(shards):
        with open(os.path.join(path, f"shard-{s:05d}.kvb"), "wb") as f:
            f.write(encode_keyed_shard(records[s::shards]))


def write_pdf_differences(title: str, body: str) -> bytes:
    """The same document under a SIMPLE (single-byte) font whose
    /Encoding carries a /Differences array: ASCII shows as itself
    (WinAnsi base), every non-ASCII character gets a byte ≥ 0x80 mapped
    by Adobe glyph name. Raises if the text needs a glyph outside the
    supported name table — fixtures must stay within it."""
    rev = {v: k for k, v in _AGL.items()}
    assign: Dict[str, int] = {}
    diffs: List[bytes] = []
    state = {"nxt": 0x80}

    def enc(s: str) -> bytes:
        out = bytearray()
        for ch in s:
            if ord(ch) < 0x80:
                out.append(ord(ch))
                continue
            if ch not in assign:
                name = rev.get(ch) or (
                    f"uni{ord(ch):04X}" if ord(ch) <= 0xFFFF else None
                )
                if name is None:
                    raise ValueError(f"no glyph name for {ch!r}")
                if state["nxt"] > 0xFF:
                    raise ValueError("too many non-ASCII characters for one byte font")
                assign[ch] = state["nxt"]
                diffs.append(f"{state['nxt']} /{name}".encode())
                state["nxt"] += 1
            out.append(assign[ch])
        return bytes(out)

    t_enc, b_enc = enc(title), enc(body)
    content = (
        b"BT /F1 12 Tf 72 720 Td ("
        + _esc(t_enc)
        + b") Tj 0 -14 TD ("
        + _esc(b_enc)
        + b") Tj ET"
    )
    data = zlib.compress(content)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(data)).encode() + b" /Filter /FlateDecode >>"
        b"\nstream\n" + data + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /WebxDiff /Encoding 6 0 R >>",
        b"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding /Differences ["
        + b" ".join(diffs)
        + b"] >>",
    ]
    return _classic_assemble(objs)


def detect(blocks: Sequence[Block], cfg: ExtractConfig) -> List[Span]:
    """Stage 1 over one document's Block list (``webx.tokenize.tokenize``
    output): block scores, then the same run merge the extractor runs
    over its block table."""
    if not blocks:
        return []
    n = len(blocks)

    def col(name, dtype):
        return np.fromiter((getattr(b, name) for b in blocks), dtype=dtype, count=n)

    tlen, link = col("tlen", np.int64), col("link_tlen", np.int64)
    scores = block_scores(tlen, link, col("tag_cnt", np.int64), col("boiler", bool), cfg)
    return merge_runs_table(
        col("start", np.int64), col("end", np.int64), tlen, col("heading", bool),
        scores, cfg, link=link,
    )
