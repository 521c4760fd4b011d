"""PDF font decode maps: /ToUnicode CMaps (CID/Type0 hex-string show
ops — the layout every modern subsetted-font writer emits) and simple
fonts with /Encoding //Differences. Reference parity: mindocr decodes
recognizer logits through a char dictionary (mindocr/utils/dict/*,
rec_postprocess.py); the PDF font maps are the same indirection —
code units → characters — on the container side."""

from __future__ import annotations

import pytest

from tests.helpers import write_pdf_differences
from webx.pdf import (
    _cmap_decoder,
    _parse_tounicode,
    _simple_font_decoder,
    parse_pdf,
    write_pdf,
    write_pdf_cid,
)


def test_tounicode_bfchar_and_bfrange():
    cm = b"""
/CIDInit /ProcSet findresource begin
begincmap
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
2 beginbfchar
<0001> <0048>
<0002> <00E9>
endbfchar
2 beginbfrange
<0010> <0012> <0061>
<0020> <0021> [<D83DDE00> <00660069>]
endbfrange
endcmap
"""
    ranges, mapping = _parse_tounicode(cm)
    assert ranges == [(b"\x00\x00", b"\xff\xff")]
    dec = _cmap_decoder(ranges, mapping)
    s = bytes.fromhex("00010002001000110012002000210099")
    # unmapped code 0x0099 -> replacement, not a crash
    assert dec(s) == "Héabc\U0001f600fi�"


def test_tounicode_one_byte_codespace():
    cm = b"""
begincmap
1 begincodespacerange
<00> <FF>
endcodespacerange
1 beginbfrange
<41> <43> <0061>
endbfrange
endcmap
"""
    ranges, mapping = _parse_tounicode(cm)
    assert ranges == [(b"\x00", b"\xff")]
    assert _cmap_decoder(ranges, mapping)(b"ABC") == "abc"


def test_tounicode_multi_width_codespace_framing():
    """The standard CJK layout: a 1-byte and a 2-byte codespacerange.
    Width is selected by RANGE match, not mapping membership — an
    UNMAPPED 1-byte code must consume exactly one byte (U+FFFD) and
    must not swallow the first byte of the following 2-byte code."""
    cm = b"""
begincmap
2 begincodespacerange
<00> <80>
<8140> <FFFC>
endcodespacerange
2 beginbfchar
<41> <0061>
<8140> <3042>
endbfchar
endcmap
"""
    ranges, mapping = _parse_tounicode(cm)
    assert ranges == [(b"\x00", b"\x80"), (b"\x81\x40", b"\xff\xfc")]
    dec = _cmap_decoder(ranges, mapping)
    # mapped 1-byte, mapped 2-byte
    assert dec(b"\x41\x81\x40") == "aあ"
    # unmapped 1-byte (0x42 in the 1-byte range) then a mapped 2-byte
    # code: the old membership-driven framing consumed 2 bytes here and
    # cascaded; range framing consumes 1 and keeps alignment
    assert dec(b"\x42\x81\x40") == "�あ"
    # unmapped 2-byte code inside the 2-byte range: one replacement
    assert dec(b"\x81\x41\x41") == "�a"
    # byte outside every range: single replacement, then realign
    assert dec(b"\x81") == "�"


def test_simple_font_differences():
    dec = _simple_font_decoder(
        "WinAnsiEncoding",
        [128, ("name", "eacute"), ("name", "udieresis"), 200, ("name", "uni20AC")],
    )
    assert dec(b"caf\x80 m\x81ll \xc8") == "café müll €"


def test_simple_font_unknown_glyph_is_replacement():
    dec = _simple_font_decoder(None, [65, ("name", "nosuchglyph")])
    assert dec(b"A") == "�"


@pytest.mark.parametrize(
    "title,body",
    [
        ("Doc 1", "plain ascii body"),
        ("Tätle", "Gürzenichstraße 21 — café ½"),
        ("CJK", "漢字とひらがな mixed"),
        ("Emoji", "non-BMP \U0001f600\U0001f680 pair"),
        ("Runs", "abcdefg hijklmnop qrs"),  # exercises bfrange runs
    ],
)
def test_cid_roundtrip_byte_identical(title, body):
    raw = write_pdf_cid(title, body)
    text, spans = parse_pdf(raw)
    assert text == title + "\n" + body
    assert spans == [(0, len(text))]


def test_cid_roundtrip_uncompressed():
    raw = write_pdf_cid("T", "café body", compress=False)
    assert parse_pdf(raw)[0] == "T\ncafé body"


def test_differences_fixture_roundtrip():
    title, body = "Tést", "café über straße — ok"
    raw = write_pdf_differences(title, body)
    text, _ = parse_pdf(raw)
    assert text == title + "\n" + body


def test_mixed_fonts_one_page():
    """Two fonts in one BT..ET: Tf switches the active decode map
    mid-region; bytes shown under the simple font and codes shown under
    the CID font land in the same output line."""
    # build by hand on top of the CID writer's object layout
    raw = write_pdf_cid("AB", "cd", extra_simple_font=True)
    text, _ = parse_pdf(raw)
    assert text == "AB\ncd\nplain!"


def test_font_without_maps_falls_back_to_utf8():
    # the classic writer's Helvetica has no Encoding/ToUnicode: the
    # UTF-8 byte-decode path must keep working (all existing fixtures)
    raw = write_pdf("Doc 5", "café body → ok")
    assert parse_pdf(raw)[0] == "Doc 5\ncafé body → ok"


def test_corrupt_tounicode_falls_back_not_crash():
    """A font whose /ToUnicode stream is unparsable garbage must not
    kill the document: the decoder falls back to UTF-8 bytes."""
    raw = write_pdf_cid("T", "body", corrupt_tounicode=True)
    text, _ = parse_pdf(raw)
    # hex-encoded CID codes decoded as UTF-8 are garbage but present;
    # the structural walk and the show ops must still succeed
    assert isinstance(text, str)


def _golden_text(spark, sf):
    from pyspark.sql import functions as F

    from webx.synth import _did, _norm, _url, load_documents

    return load_documents(spark, sf).select(
        _url().alias("url"),
        F.concat(_did(), F.lit("\n"), _norm(F.col("text"))).alias("text"),
    )


def test_synth_mix_includes_cid(spark):
    from webx.pdf import extract_pdf
    from webx.synth import synth_pdfs

    got = extract_pdf(synth_pdfs(spark, "/root/testdata/sf0.001")).select("url", "text")
    want = _golden_text(spark, "/root/testdata/sf0.001")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_synth_pdfs_cid_layout(spark):
    from webx.pdf import extract_pdf
    from webx.synth import synth_pdfs

    got = extract_pdf(
        synth_pdfs(spark, "/root/testdata/sf0.001", layout="cid")
    ).select("url", "text")
    want = _golden_text(spark, "/root/testdata/sf0.001")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_tf_persists_across_text_objects():
    """Tf is graphics state: a font selected in one BT..ET region (or
    before the first BT) stays active in the next region within the
    same content stream — common real-writer output sets the font once
    and shows text from several text objects."""
    from webx.pdf import decode_text_object, regions_with_fonts

    content = (
        b"/F1 12 Tf "  # before the first BT
        b"BT 72 720 Td <0001> Tj ET "
        b"BT 72 700 Td <0002> Tj ET "  # no Tf here: inherits /F1
        b"BT /F2 10 Tf <41> Tj ET "
        b"BT <42> Tj ET"  # inherits /F2
    )
    regions = regions_with_fonts(content)
    # the font AT each BT: region 3 opens under /F1 and switches to /F2
    # mid-region; region 4 then inherits /F2
    assert [f for _, _, f in regions] == [b"/F1", b"/F1", b"/F1", b"/F2"]
    fonts = {
        b"/F1": {b"\x00\x01": "H", b"\x00\x02": "i"}.__getitem__,
        b"/F2": lambda s: s.decode("ascii").lower(),
    }
    texts = [
        decode_text_object(content[r0:r1], fonts=fonts, initial_font=f0)
        for r0, r1, f0 in regions
    ]
    assert texts == ["H", "i", "a", "b"]
