"""Messy-real-web extraction contract.

Two fixture families:

1. The committed corpus ``tests/fixtures/gnarly/*.html`` — hand-written
   public-web-style specimens (entity soup, unclosed-tag soup, conditional
   comments, charset quirks, textarea/script traps, crossed nesting) with
   REVIEWED goldens (``*.txt``, produced by ``gen_fixtures.py`` and
   human-checked). This is the reference's paste-real-data system-test
   discipline (tests/st/test_train_eval_dummy.py:22-100) applied to HTML.

2. The oracle-gated synth rotation ``webx.synth.GNARLY_PARTS`` backing
   ``q_extract_gnarly`` — here we assert the per-template anatomy on one
   concrete document (golden text, ghost strings absent) so an oracle
   failure localizes to a template instead of a 500-row hash mismatch.
"""

from __future__ import annotations

import os
import unicodedata

import pandas as pd
import pytest

from webx import synth
from webx.config import ExtractConfig
from webx.extract import extract_batch

CFG = ExtractConfig()
FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures", "gnarly")
PAGES = sorted(f[:-5] for f in os.listdir(FIXDIR) if f.endswith(".html"))


def _extract(html: bytes) -> str:
    out = extract_batch(pd.DataFrame({"url": ["u"], "html": [html]}), CFG)
    return out.iloc[0]["text"]


def test_corpus_is_committed():
    # the corpus must stay substantial; shrinking it is a review event
    assert len(PAGES) >= 24


def _read(name: str):
    with open(os.path.join(FIXDIR, f"{name}.html"), "rb") as fh:
        html = fh.read()
    with open(os.path.join(FIXDIR, f"{name}.txt"), encoding="utf-8") as fh:
        return html, fh.read()


@pytest.mark.parametrize("name", PAGES)
def test_gnarly_fixture_golden(name):
    html, golden = _read(name)
    assert _extract(html) == golden


def _bits(row):
    return (
        row["text"],
        [(s["start"], s["end"], s["kind"], s["score"].hex()) for s in row["spans"]],
        row["conf"].hex(),
    )


@pytest.mark.parametrize("name", PAGES)
def test_gnarly_fixture_python_kernel_parity(name):
    """The pure-Python reference path must produce the same goldens as
    the default (C-kernel) path on the whole messy corpus — and the same
    spans (bounds, kind, score bits) and conf bits, so the C kernel
    finalizes runs of every length exactly like the reference."""
    html, golden = _read(name)
    df = pd.DataFrame({"url": ["u"], "html": [html]})
    off = extract_batch(df, ExtractConfig(ckernels="off")).iloc[0]
    assert off["text"] == golden
    assert _bits(extract_batch(df, CFG).iloc[0]) == _bits(off)


@pytest.mark.parametrize("ckernels", ["auto", "off"])
def test_gnarly_scoring_uses_no_blas_reduction(monkeypatch, ckernels):
    """Span scores and conf come from an explicit left-to-right fold,
    never from a BLAS reduction whose order depends on the CPU: with
    numpy.dot disabled, extraction still reproduces every golden and
    the markdown lane renders exactly what it renders with it."""
    import numpy

    from webx.markdown import render_markdown_batch

    pages = [_read(name) for name in PAGES]
    df = pd.DataFrame({"url": PAGES, "html": [h for h, _ in pages]})
    cfg = ExtractConfig(ckernels=ckernels)
    md = render_markdown_batch(df, cfg)

    def no_dot(*args, **kwargs):
        raise AssertionError("numpy.dot called while scoring")

    monkeypatch.setattr(numpy, "dot", no_dot)
    out = extract_batch(df, cfg)
    assert out["text"].tolist() == [golden for _, golden in pages]
    pd.testing.assert_frame_equal(render_markdown_batch(df, cfg), md)


# ------------------------------------------------- synth template anatomy

DOC_ID = 7
TEXT = "A  paragraph\twith messy   whitespace that still extracts fine."
NORM = " ".join(TEXT.split())
GOLDEN = f"Doc {DOC_ID}\n{NORM}"

# strings that exist in the raw templates and must NEVER surface
GHOSTS = [
    "ghost",                      # CDATA / script-string / JSON-LD ghosts
    "Please upgrade",             # downlevel-revealed conditional text
    "Legacy layout",              # IE conditional comment body
    "JavaScript is disabled",     # noscript fallback
    "cache hit",                  # post-</html> junk
    "Tweet",                      # share bars
    "One weird trick",            # sidebar teasers
    "Example Corp",               # footers
]


def _page(k: int, doc_id: int = DOC_ID, text: str = TEXT) -> bytes:
    pre, mid, mid2, tail = synth.GNARLY_PARTS[k]
    did = f"Doc {doc_id}"
    esc = (
        " ".join(text.split())
        .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )
    return (pre + did + mid + did + mid2 + esc + tail).encode("utf-8")


@pytest.mark.parametrize("k", range(len(synth.GNARLY_PARTS)))
def test_gnarly_template_golden(k):
    got = _extract(_page(k))
    assert got == GOLDEN
    for ghost in GHOSTS:
        assert ghost not in got


@pytest.mark.parametrize("k", range(len(synth.GNARLY_PARTS)))
def test_gnarly_template_shortest_doc(k):
    """The weakest document in the driver tables has ~35 non-ws bytes;
    every template's content block must still clear binary_thresh and
    box_thresh at that length (the score-arithmetic margin the templates
    were designed against — see webx/synth.py)."""
    short = "tiny page body with just enough words here."  # 36 non-ws bytes
    assert len("".join(short.split())) <= 37
    got = _extract(_page(k, doc_id=0, text=short))
    assert got == f"Doc 0\n{short}"


def test_gnarly_template_escape_roundtrip():
    """Text containing raw <, >, & survives through the escape+extract
    round-trip in every template (entity decode is part of stage 2)."""
    tricky = "compare: 2 < 3 && 5 > 4, AT&T is a carrier of choice."
    for k in range(len(synth.GNARLY_PARTS)):
        got = _extract(_page(k, text=tricky))
        assert got == f"Doc {DOC_ID}\n{tricky}", f"template {k}"


def test_bom_is_not_content():
    """Template 5 opens with a UTF-8 BOM; it must be stripped before
    tokenization, never decoded into the text."""
    got = _extract(_page(5))
    assert "﻿" not in got
    assert unicodedata.category(got[0]) != "Cf"


def test_fixture_corpus_is_messy():
    """Tripwire: the corpus must keep exercising the constructs it was
    built for (if a cleanup 'simplifies' the fixtures, this fails)."""
    blob = b""
    for name in PAGES:
        with open(os.path.join(FIXDIR, f"{name}.html"), "rb") as fh:
            blob += fh.read()
    for marker in (
        b"<![CDATA[", b"<!--[if", b"<![if !IE]>", b"<textarea",
        b"<noscript>", b"\x93",  # win1252 smart quote byte
        b'class="colophon>',     # unclosed attribute quote
        b"<p>The first paragraph simply never closes",
    ):
        assert marker in blob, marker


def test_cjk_legacy_charset_decodes():
    """WHATWG registry labels route real legacy CJK bytes: sjis → cp932
    (Windows superset), euc-kr → cp949, gb2312 → gbk. Each page's body
    is encoded in the actual legacy codec and must decode byte-exact."""
    cases = [
        ("sjis", "cp932", "見出しです",
         "日本語のテキスト抽出は正しく動作します、句読点も含めて確認。"),
        ("euc-kr", "cp949", "제목입니다",
         "한국어 텍스트 추출이 올바르게 작동하는지 확인하는 문장입니다."),
        ("gb2312", "gbk", "这是标题",
         "中文文本抽取在遗留编码下也必须逐字节正确地工作。"),
    ]
    for label, codec, head, body in cases:
        html = (
            f'<html><head><meta charset="{label}"><title>t</title></head>'
            f"<body><nav><a href=\"/\">top</a></nav>"
            f"<article><h1>{head}</h1><p>{body} {body}</p></article>"
            f"</body></html>"
        ).encode(codec)
        out = _extract(html)
        assert body in out, (label, out[:80])
        assert out.startswith(head), (label, out[:40])


def test_unterminated_comment_swallows_rest_of_file():
    """Spec behavior (and charset.py:214's existing convention): a
    ``<!--`` with no ``-->`` comments out everything after it — the
    ghost content must NOT be extracted and the comment bytes must
    never leak into text (they previously did, via span expansion
    across the comment region)."""
    html = (b"<html><body><p>kept paragraph with enough words to score "
            b"as real content for the reader.</p>"
            b"<!-- never closed <p>ghost paragraph that spec-compliant "
            b"parsers swallow entirely</p></body></html>")
    out = _extract(html)
    assert "kept paragraph" in out
    assert "ghost" not in out
    assert "<!--" not in out


# Review verdicts for specimens whose goldens document a LIMITATION
# rather than ideal output (re-reviewed whenever goldens regenerate):
#  * 04_pre_code: RESOLVED (pre-preservation review event): <pre>/
#    <listing> regions are exempt from whitespace collapse
#    (webx/recognize.py pre_regions + decode_span_pre) — the sample's
#    four-space indent now survives, which is what the specimen's own
#    prose always promised. Only this golden changed in the review.
#  * 47_wiki_infobox: POLICY — the infobox table's short label/value
#    lines are kept in the prose lane (they merge into the adjacent
#    candidate run); the structured form is the data-table lane's job
#    (webx/tables.py extracts it with th flags + caption). The
#    trailing "References" heading over a link-only list stays as a
#    bare line — recorded, harmless to training text.
#  * 46/49/50: reviews, user comments and about-the-company prose are
#    KEPT deliberately (same policy as 43_forum_thread: genuine text
#    by humans is corpus content; "related products", breadcrumbs and
#    media-contact link lines fall to hints/density as boilerplate).
#  * 30_xmp_plaintext: RESOLVED — <xmp>/<plaintext> are raw-KEPT
#    elements now (one block, tag_cnt=0; stage 2 keeps tags literal and
#    leaves character references undecoded per spec); the golden shows
#    the markup sample verbatim. <listing> parses like <pre>.
#  * 42_table_layout_newsletter: RESOLVED (heading-rescue review
#    event): a link-free short block that immediately precedes a base
#    candidate and fails only on inline-tag density is rescued into the
#    run (webx/detect.py merge_runs_table frozen predicate; identical
#    in the C kernel). The golden now carries both story headlines.
#    Corpus-wide effect of the rule was reviewed: fixture 42 is the
#    ONLY specimen whose output changed.
#  * 40_late_charset_decl: documents the WHATWG 1024-byte prescan
#    window + the flagged total latin-1 fallback (charset.py:18-19) —
#    the golden's U+0093/94 C1 controls are the deliberate
#    garbled-but-counted contract, not an accident.
#  * 31_cookie_overlay: RESOLVED (this round's frozen-scoring review
#    event): <title> is head metadata (title_depth → boiler) and the
#    cookie-banner / newsletter divs fall to class/id-hint regions
#    (tokenize.NEG_CLASS_TOKENS); golden is now the ideal article-only
#    output. 25_frameset_noframes lost its leaked "Portal" title line
#    in the same review.
