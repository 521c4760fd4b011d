"""Fused-extractor unit tests on pandas batches (no Spark session) —
charset edge cases and the expand (unclip-analog) knob."""

from __future__ import annotations

import pandas as pd

from tests.helpers import detect
from webx.config import ExtractConfig
from webx.detect import Span, expand_spans
from webx.extract import extract_batch
from webx.tokenize import tokenize

CFG = ExtractConfig()


def run_one(html: bytes, cfg: ExtractConfig = CFG) -> dict:
    out = extract_batch(pd.DataFrame({"url": ["u"], "html": [html]}), cfg)
    return out.iloc[0].to_dict()


def test_gbk_page_decodes():
    content = "中文内容的测试段落 需要足够的字符来通过检测 " * 3
    html = (
        '<html><head><meta charset="gb2312"></head><body><p>'
        + content
        + "</p></body></html>"
    ).encode("gbk")
    row = run_one(html)
    assert row["status"] == "ok"
    assert row["meta"]["charset"] == "gbk"
    assert row["text"] == " ".join(content.split())


def test_cp1252_page_decodes():
    content = "Smart “quotes” and €uro signs in a long enough paragraph body."
    html = (
        '<html><head><meta charset="windows-1252"></head><body><p>'
        + content
        + "</p></body></html>"
    ).encode("cp1252")
    row = run_one(html)
    assert row["meta"]["charset"] == "cp1252"
    assert row["text"] == content


def test_misdeclared_charset_falls_back():
    # declares gbk but the bytes are invalid gbk AND valid utf-8
    content = "Résumé déjà vu — a paragraph long enough to be detected here."
    html = (
        '<html><head><meta charset="gb2312"></head><body><p>'
        + content
        + "</p></body></html>"
    ).encode("utf-8")
    row = run_one(html)
    assert row["status"] == "charset_fallback"
    assert row["meta"]["charset"] == "utf-8"  # effective codec recorded
    assert row["text"] == content  # decoded via utf-8 fallback, no mojibake


def test_expand_spans_whitespace_only():
    html = b"<div>junk</div>  \n  CONTENT  \n  <div>tail</div>"
    s = html.index(b"CONTENT")
    spans = [Span(s, s + 7, 0.9, "content", 0, 0)]
    ex = expand_spans(html, spans, expand_ratio=1.0)
    assert len(ex) == 1
    got = html[ex[0].start : ex[0].end]
    assert got.strip() == b"CONTENT"
    assert got != b"CONTENT"  # actually expanded
    assert set(got) - set(b"CONTENT") <= set(b" \t\r\n\f\v")


def test_expand_spans_budget_cap():
    html = b"A" + b" " * 50 + b"CONTENT" + b" " * 50 + b"Z"
    s = html.index(b"CONTENT")
    spans = [Span(s, s + 7, 0.9, "content", 0, 0)]
    ex = expand_spans(html, spans, expand_ratio=0.5)  # budget = 3 per side
    assert ex[0].start == s - 3 and ex[0].end == s + 7 + 3
    assert expand_spans(html, spans, expand_ratio=0.0) == spans


def test_expand_spans_never_cross_neighbor():
    html = b"AAAA   BBBB"
    spans = [Span(0, 4, 0.9, "content", 0, 0), Span(7, 11, 0.9, "content", 1, 1)]
    ex = expand_spans(html, spans, expand_ratio=10.0)
    assert ex[0].end <= ex[1].start  # first expands right, second can't cross


def test_expand_keeps_decoded_text_identical():
    html = (
        b"<nav><li><a href='/'>Home</a></li></nav>"
        b"<p>The long main paragraph with enough characters to detect.</p>"
        b"<footer><p>(c)</p></footer>"
    )
    base = run_one(html, ExtractConfig())
    expanded = run_one(html, ExtractConfig(expand_ratio=0.3))
    assert base["text"] == expanded["text"]  # whitespace-only expansion
    b0, e0 = base["spans"][0]["start"], base["spans"][0]["end"]
    b1, e1 = expanded["spans"][0]["start"], expanded["spans"][0]["end"]
    assert (b1, e1) != (b0, e0) or (b1 <= b0 and e1 >= e0)


def test_detect_unaffected_by_default_expand():
    html = b"<p>Plain long paragraph with sufficient characters inside it.</p>"
    spans = detect(tokenize(html), CFG)
    row = run_one(html)
    assert row["spans"][0]["start"] == spans[0].start
    assert row["spans"][0]["end"] == spans[0].end


def test_utf16_bom_pages_extract_like_utf8(spark):
    """A BOM-marked UTF-16 page must extract the same text as its UTF-8
    twin (transcode-before-tokenize policy); a UTF-8 BOM is stripped."""
    import pandas as pd

    from webx.config import ExtractConfig
    from webx.extract import extract_batch

    body = "<html><body><p>" + "words la réponse est café " * 8 + "</p></body></html>"
    utf8 = body.encode("utf-8")
    cases = {
        "u8": utf8,
        "u8bom": b"\xef\xbb\xbf" + utf8,
        "u16le": body.encode("utf-16"),        # BOM included by codec
        "u16be": body.encode("utf-16-be"),
    }
    cases["u16be"] = b"\xfe\xff" + cases["u16be"]
    pdf = pd.DataFrame({"url": list(cases), "html": list(cases.values())})
    out = extract_batch(pdf, ExtractConfig())
    texts = dict(zip(out["url"], out["text"]))
    assert texts["u8"] != "" and "café" in texts["u8"]
    assert texts["u8bom"] == texts["u8"]
    assert texts["u16le"] == texts["u8"]
    assert texts["u16be"] == texts["u8"]


def test_interleave_batch_dom_order():
    """Text spans and <img> occurrences merge in DOM order: image
    between two articles sits between their spans; srcless imgs drop;
    alt '' when absent, whitespace-collapsed otherwise; empty pages
    yield nothing."""
    import pandas as pd

    from webx.config import ExtractConfig
    from webx.extract import interleave_batch

    art1 = "alpha beta gamma delta epsilon zeta eta theta " * 6
    art2 = "one two three four five six seven eight nine ten " * 6
    html = (
        "<html><body><img src=\"/top.png\" alt=\"Top\n  banner\">"
        f"<article><p>{art1}</p></article>"
        '<div class="ad"><a href="/x">Buy</a> <a href="/y">Offer</a> '
        '<a href="/z">Deal</a> <img src="/mid.jpg"></div>'
        '<img alt="srcless, dropped">'
        f"<article><p>{art2}</p></article></body></html>"
    ).encode()
    pdf = pd.DataFrame({"url": ["u", "e"], "html": [html, b""]})
    out = interleave_batch(pdf, ExtractConfig())
    assert out["url"].tolist() == ["u"] * len(out)
    kinds = out["kind"].tolist()
    assert kinds == ["image", "text", "image", "text"]
    assert out["src"].tolist()[0::2] == ["/top.png", "/mid.jpg"]
    assert out["alt"].tolist()[0::2] == ["Top banner", ""]
    assert art1.strip() in out["text"].tolist()[1]
    assert art2.strip() in out["text"].tolist()[3]
    assert out["seq"].tolist() == [0, 1, 2, 3]


def test_interleave_x_user_defined_page():
    """A page whose effective codec is x-user-defined (no stdlib codec)
    decodes its <img> src/alt through the extractor's charset decoder
    (bytes 0x80-0xFF map to U+F780-U+F7FF) instead of failing the whole
    batch with LookupError."""
    from webx.extract import interleave_batch

    art = b"alpha beta gamma delta epsilon zeta eta theta " * 6
    html = (
        b'<html><head><meta charset="x-user-defined"></head><body>'
        b"<article><p>" + art + b"</p></article>"
        b'<img src="/caf\xe9.png" alt="  an \xff\n image ">'
        b"</body></html>"
    )
    out = interleave_batch(pd.DataFrame({"url": ["u"], "html": [html]}), CFG)
    assert out["kind"].tolist() == ["text", "image"]
    assert out["text"].tolist()[0] == art.decode().strip()
    assert out["src"].tolist()[1] == "/caf\uf7e9.png"
    assert out["alt"].tolist()[1] == "an \uf7ff image"


def test_http_charset_hint_precedence():
    """WHATWG precedence: the HTTP-header charset outranks a LYING
    in-document meta (cp1252 smart quotes vs latin-1 control chars);
    a BOM outranks the header; an unknown hint falls back to the
    sniffed meta; no hint column keeps today's behavior."""
    import pandas as pd

    from webx.config import ExtractConfig
    from webx.extract import extract_batch

    art = ("lorem ipsum dolor sit amet consectetur adipiscing elit " * 4).strip()
    body = f'<meta charset="iso-8859-1"><p>{art} \x93q\x94</p>'
    cp1252 = body.encode("latin-1")  # \x93\x94 emit as those raw bytes
    utf8_bom = b"\xef\xbb\xbf" + (
        f'<meta charset="utf-8"><p>{art} “q”</p>'.encode("utf-8")
    )
    pdf = pd.DataFrame(
        {
            "url": ["hinted", "bom", "badhint", "nohint"],
            "html": [cp1252, utf8_bom, cp1252, cp1252],
            "http_charset": ["windows-1252", "iso-8859-1", "klingon-8", ""],
        }
    )
    cfg = ExtractConfig()
    out = extract_batch(pdf, cfg, charset_col="http_charset")
    texts = dict(zip(out["url"], out["text"]))
    assert "“q”" in texts["hinted"]       # header beat the meta
    assert "“q”" in texts["bom"]          # BOM beat the header
    # unknown hint / no hint → meta sniff; the iso-8859-1 label resolves
    # to cp1252 under the WHATWG registry, so the smart quotes decode
    # (the lying meta is corrected by the registry, not the header)
    assert "“q”" in texts["badhint"]
    assert "“q”" in texts["nohint"]
    # and without the hint column at all, behavior is unchanged
    out2 = extract_batch(pdf[["url", "html"]], cfg)
    assert "“q”" in dict(zip(out2["url"], out2["text"]))["hinted"]


def test_parse_warc_meta_charset():
    """parse_warc_meta surfaces the Content-Type charset ('' when the
    header has none), with payload identical to parse_warc."""
    from webx.sources import parse_warc, parse_warc_meta, write_warc
    from datetime import datetime, timezone

    recs = [
        ("http://a.com/1", datetime(2024, 1, 1, tzinfo=timezone.utc), b"<p>x</p>"),
    ]
    with_cs = write_warc(recs, charset="Windows-1252")
    plain = write_warc(recs)
    got = parse_warc_meta(with_cs)
    assert [(u, cs) for u, _, _, cs in got] == [("http://a.com/1", "windows-1252")]
    assert got[0][2] == parse_warc(with_cs)[0][2] == b"<p>x</p>"
    assert [cs for _, _, _, cs in parse_warc_meta(plain)] == [""]


def test_image_contexts_edges(spark):
    """Images at document edges get '' for the missing side; interior
    images take the NEAREST text in each direction, skipping adjacent
    images."""
    from webx.pipeline import image_contexts

    rows = [
        ("u", 0, "image", None, "/lead.png", "lead"),
        ("u", 1, "text", "first para", None, None),
        ("u", 2, "image", None, "/a.png", "a"),
        ("u", 3, "image", None, "/b.png", "b"),
        ("u", 4, "text", "second para", None, None),
        ("u", 5, "image", None, "/tail.png", "tail"),
    ]
    d = spark.createDataFrame(
        rows, "url string, seq int, kind string, text string, src string, alt string"
    )
    got = {r["src"]: (r["context_before"], r["context_after"])
           for r in image_contexts(d).collect()}
    assert got["/lead.png"] == ("", "first para")
    assert got["/a.png"] == ("first para", "second para")
    assert got["/b.png"] == ("first para", "second para")
    assert got["/tail.png"] == ("second para", "")
