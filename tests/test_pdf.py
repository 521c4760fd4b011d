"""PDF lane unit tests: structural walk, text-object detect, sequential
decode, escape handling, and the unsupported-construct policy."""

from __future__ import annotations

import zlib

from webx.pdf import (
    decode_text_object,
    extract_pdf,
    page_contents_with_fonts,
    parse_pdf,
    regions_with_fonts,
    write_pdf,
)


def test_roundtrip_compressed_and_raw():
    for compress in (True, False):
        raw = write_pdf("Doc 7", "hello world body", compress=compress)
        text, spans = parse_pdf(raw)
        assert text == "Doc 7\nhello world body"
        assert spans == [(0, len(text))]


def test_string_escapes_and_unicode():
    body = r"parens (nested (deep)) slash \ tab" + "\t end café →"
    raw = write_pdf("T", body)
    text, _ = parse_pdf(raw)
    assert text == "T\n" + body


def test_octal_and_special_escapes():
    region = rb"BT (\101\102\103 \( \) \\ x\n) Tj ET"
    assert decode_text_object(region) == "ABC ( ) \\ x\n"


def test_xref_stream_layout_parses_identically():
    """PDF 1.5 layout (xref stream + ObjStm) must extract byte-identically
    to the classic-table layout, with and without the PNG-Up predictor."""
    from webx.pdf import write_pdf_xrefstream

    classic_text, classic_spans = parse_pdf(write_pdf("T", "body text café"))
    for pred in (1, 12):
        text, spans = parse_pdf(write_pdf_xrefstream("T", "body text café", predictor=pred))
        assert text == classic_text
        assert spans == classic_spans


def test_prev_chain_incremental_update():
    """/Prev chain: an incremental update overriding the content object
    must win (newest-first walk), with untouched objects resolved from
    the previous xref section."""
    import re as _re
    import zlib

    base = write_pdf("T", "old body")
    old_xref_pos = int(_re.search(rb"startxref\s+(\d+)", base[-256:]).group(1))
    new_content = b"BT /F1 12 Tf 72 720 Td (T) Tj 0 -14 TD (new body) Tj ET"
    data = zlib.compress(new_content)
    obj4 = (
        b"4 0 obj\n<< /Length " + str(len(data)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + data + b"\nendstream\nendobj\n"
    )
    off4 = len(base)
    upd_xref = off4 + len(obj4)
    update = (
        obj4
        + b"xref\n4 1\n" + f"{off4:010d} 00001 n \n".encode()
        + b"trailer\n<< /Size 6 /Root 1 0 R /Prev " + str(old_xref_pos).encode()
        + b" >>\nstartxref\n" + str(upd_xref).encode() + b"\n%%EOF\n"
    )
    text, _ = parse_pdf(base + update)
    assert text == "T\nnew body"


def test_predictor_filters_roundtrip():
    """All five per-row PNG filters and the TIFF predictor decode."""
    from webx.pdf import _apply_predictor

    rows = [bytes([1, 10, 20, 250, 7]), bytes([2, 11, 19, 251, 9]), bytes([0, 0, 255, 1, 2])]
    cols = 5
    # encode with each PNG filter type per row, then decode
    prev = bytes(cols)
    enc = bytearray()
    for ftype, row in zip((1, 2, 4), rows):
        if ftype == 1:
            out = bytes([(row[c] - (row[c - 1] if c else 0)) & 0xFF for c in range(cols)])
        elif ftype == 2:
            out = bytes([(row[c] - prev[c]) & 0xFF for c in range(cols)])
        else:  # Paeth
            out = bytearray()
            for c in range(cols):
                a = row[c - 1] if c else 0
                b = prev[c]
                cc = prev[c - 1] if c else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                out.append((row[c] - pred) & 0xFF)
            out = bytes(out)
        enc.append(ftype)
        enc.extend(out)
        prev = row
    dec = _apply_predictor(bytes(enc), {"Predictor": 12, "Columns": cols})
    assert dec == b"".join(rows)
    # TIFF predictor 2
    tiff_rows = b"".join(
        bytes([r[0]] + [(r[c] - r[c - 1]) & 0xFF for c in range(1, cols)]) for r in rows
    )
    assert _apply_predictor(tiff_rows, {"Predictor": 2, "Columns": cols}) == b"".join(rows)


def test_unsupported_predictor_is_fail_soft():
    """An xref stream with an unknown predictor must land in the
    status='unsupported' lane, not crash the batch."""
    from webx.pdf import write_pdf_xrefstream

    raw = write_pdf_xrefstream("T", "body", predictor=12)
    bad = raw.replace(b"/Predictor 12", b"/Predictor 99")
    import pytest

    with pytest.raises(ValueError, match="unsupported predictor"):
        parse_pdf(bad)


def test_invalid_escapes_ignore_backslash():
    # PDF spec: a backslash before an unrecognized char is dropped and the
    # char kept literally; \8 and \9 are not octal.
    region = rb"BT (a\8b \zc) Tj ET"
    assert decode_text_object(region) == "a8b zc"


def test_trailing_backslash_at_eof():
    from webx.pdf import _parse_string

    # Unterminated string whose last byte is a backslash: must raise the
    # clean unterminated-string ValueError, not KeyError/AttributeError.
    import pytest

    with pytest.raises(ValueError, match="unterminated"):
        _parse_string(b"(abc\\", 0)


def test_tj_array_and_quote_ops():
    region = b"BT [(Hel) -20 (lo)] TJ (next) ' ET"
    assert decode_text_object(region) == "Hello\nnext"


def test_line_moves():
    region = b"BT (a) Tj 0 -14 Td (b) Tj 10 0 Td (c) Tj T* (d) Tj ET"
    # vertical Td breaks, horizontal Td does not, T* breaks
    assert decode_text_object(region) == "a\nbc\nd"


def test_detect_regions():
    content = b"0 0 m BT (x) Tj ET 1 1 l BT (y) Tj ET"
    regions = [(a, b) for a, b, _ in regions_with_fonts(content)]
    assert len(regions) == 2
    assert [content[a:b][:2] for a, b in regions] == [b"BT", b"BT"]


def test_multiple_content_streams():
    raw = write_pdf("A", "B")
    streams = [c for c, _ in page_contents_with_fonts(raw)]
    assert len(streams) == 1 and b"BT" in streams[0]


def test_unsupported_filter_status(spark):
    # corrupt the Filter name -> parse must fail soft with status
    raw = write_pdf("A", "B").replace(b"FlateDecode", b"LZWDecodeXX")
    df = spark.createDataFrame([("u", raw)], "url string, pdf binary")
    row = extract_pdf(df).first()
    assert row["status"] == "unsupported" and row["text"] == ""


def test_bad_bytes_status(spark):
    df = spark.createDataFrame(
        [("u", b"%PDF-1.4 garbage"), ("v", None)], "url string, pdf binary"
    )
    rows = extract_pdf(df).collect()
    assert all(r["status"] == "unsupported" for r in rows)
    assert len(rows) == 2  # no row loss


def test_flate_stream_length_as_ref():
    """Indirect /Length objects resolve through the xref."""
    content = b"BT (x) Tj ET"
    data = zlib.compress(content)
    # hand-build: obj4 stream with /Length 6 0 R, obj6 the length int
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length 6 0 R /Filter /FlateDecode >>\nstream\n"
        + data
        + b"\nendstream",
        6: str(len(data)).encode(),
    }
    out = [b"%PDF-1.4\n"]
    offsets = {}
    pos = len(out[0])
    for num in sorted(objs):
        chunk = f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
        offsets[num] = pos
        out.append(chunk)
        pos += len(chunk)
    xref_pos = pos
    xref = [b"xref\n0 1\n", b"0000000000 65535 f \n"]
    for num in sorted(objs):
        xref.append(f"{num} 1\n{offsets[num]:010d} 00000 n \n".encode())
    out.extend(xref)
    out.append(
        b"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n"
        + str(xref_pos).encode()
        + b"\n%%EOF\n"
    )
    text, _ = parse_pdf(b"".join(out))
    assert text == "x"


def test_bt_et_inside_string_literals_do_not_truncate():
    """'ET'/'BT' appearing in the TEXT must not close/open regions —
    the lexer walks strings with full escape/nesting semantics."""
    body = "report ET al and BT units"
    raw = write_pdf("T", body)
    text, _ = parse_pdf(raw)
    assert text == "T\n" + body


def test_nested_unescaped_parens_in_string():
    region = b"BT (a (b) c) Tj ET"
    assert decode_text_object(region) == "a (b) c"
    # and detection doesn't stop inside the string either
    content = b"BT (x (ET) y) Tj ET BT (z) Tj ET"
    assert len(regions_with_fonts(content)) == 2


def test_hex_string_show():
    region = b"BT <48656c6c6f> Tj ET"
    assert decode_text_object(region) == "Hello"
    region2 = b"BT <48656c6c6f2> Tj ET"  # odd digits -> trailing 0
    assert decode_text_object(region2) == "Hello "


def test_roundtrip_property_random_text():
    """Random printable text (parens, backslashes, newlines-as-spaces,
    unicode) survives the write→parse roundtrip byte-identically."""
    import random

    rng = random.Random(77)
    pool = "abc XYZ 09 ()\\\\ (( )) éü漢🎉 .,!?"
    for _ in range(40):
        title = "".join(rng.choice(pool) for _ in range(rng.randrange(1, 20)))
        body = "".join(rng.choice(pool) for _ in range(rng.randrange(1, 200)))
        # balanced-paren guarantee not required: _esc escapes them all
        raw = write_pdf(title, body, compress=bool(rng.getrandbits(1)))
        text, spans = parse_pdf(raw)
        assert text == title + "\n" + body
        assert spans == [(0, len(text))]
