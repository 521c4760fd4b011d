"""Comment separation (webx/comments.py): region detection semantics
and the span byte-partition."""

from __future__ import annotations

import os

import pandas as pd
from hypothesis import given, settings, strategies as st

from webx.comments import comment_regions, split_comments_batch
from webx.config import ExtractConfig

CFG = ExtractConfig()


def _split(html: bytes):
    out = split_comments_batch(pd.DataFrame({"url": ["u"], "html": [html]}), CFG)
    r = out.iloc[0]
    return r["text"], r["comment_text"], int(r["n_comment_spans"])


_ARTICLE = (
    b"<article><h1>Why the build got slower</h1>"
    b"<p>The generated header invalidated sixty translation units every "
    b"time the version string changed; moving it fixed the regression.</p>"
    b"</article>"
)
_COMMENTS = (
    b'<section class="comments"><h3>Comments</h3>'
    b'<div class="comment"><p>We hit the same thing with an embedded git '
    b"hash written into a header at configure time.</p></div></section>"
)


def test_basic_separation():
    text, com, n = _split(_ARTICLE + _COMMENTS)
    assert "generated header" in text and "git" not in text
    assert com.startswith("Comments")
    assert "embedded git" in com and n == 1


def test_depth_tracking_nested_same_tag():
    # inner divs must not close the region at the first </div>
    html = (
        _ARTICLE
        + b'<div class="comments"><div><p>First reply with enough text to '
        b"survive the candidate gates easily.</p></div>"
        b"<div><p>Second reply, also long enough to be kept as candidate "
        b"content by the detector.</p></div></div>"
        b"<p>After the region, ordinary prose continues the main article "
        b"body for several more words.</p>"
    )
    text, com, _ = _split(html)
    assert "First reply" in com and "Second reply" in com
    assert "After the region" in text and "reply" not in text


def test_value_trap_does_not_match():
    html = (
        _ARTICLE
        + b'<div title="class=comments"><p>This paragraph is ordinary main '
        b"content despite the trap attribute value here.</p></div>"
    )
    text, com, n = _split(html)
    assert "trap attribute" in text and com == "" and n == 0


def test_island_hides_open_and_close():
    html = (
        _ARTICLE
        + b'<!-- <div class="comments"> -->'
        b"<p>Main prose that must never be treated as a comment region "
        b"despite the commented-out open tag.</p>"
    )
    text, com, _ = _split(html)
    assert "never be treated" in text and com == ""
    # a close hidden in a comment must not end the region
    html2 = (
        _ARTICLE
        + b'<div class="comments"><p>Reply text long enough to pass the '
        b'gates <!-- </div> --> and it continues after the island.</p></div>'
    )
    _, com2, _ = _split(html2)
    assert "continues after the island" in com2


def test_unclosed_region_runs_to_eof():
    html = (
        _ARTICLE
        + b'<div class="comments"><p>An unclosed comments container '
        b"swallows the rest of the file as comment content.</p>"
    )
    text, com, _ = _split(html)
    assert "swallows the rest" in com and "swallows" not in text


def test_self_closed_open_no_region():
    html = (
        _ARTICLE
        + b'<div class="comments"/><p>Prose after a self-closed marker '
        b"stays in the main stream as ordinary content.</p>"
    )
    text, com, _ = _split(html)
    assert "self-closed marker" in text and com == ""


def test_nested_regions_coalesce():
    html = (
        b'<section class="comments"><div class="comment"><p>Only one '
        b"region despite nested comment-marked containers in here.</p>"
        b"</div></section>"
    )
    regs = comment_regions(html)
    assert len(regs) == 1


def test_probe_miss_returns_empty():
    assert comment_regions(b"<p>plain page, nothing at all</p>") == ()


def test_probe_matches_case_insensitive_regex():
    """The lowered-substring probe decides what the case-insensitive
    bytes alternation it replaced decides, on mixed-case ASCII and on
    non-ASCII bytes (UTF-8, Latin-1, Turkish dotted/dotless I, the
    Kelvin sign), which neither folds."""
    import re

    from webx.comments import _mentions_vocab

    regex = re.compile(rb"comment|review|discussion|replies|responses", re.I)
    pages = [
        b"<div class=CoMmEnTs>x</div>",
        b"<p>REVIEWS</p>",
        b"<p>Discussion</p>",
        b"<p>rEpLiEs and RESPONSES</p>",
        b"<p>plain page</p>",
        b"",
        "<p>comm\u0130nt</p>".encode(),  # İ is not I: no word
        "<p>\u0131review</p>".encode(),
        "<p>COMMENT\u00e9</p>".encode(),
        "<p>Revi\u00e9w</p>".encode("latin-1"),
        "<p>\u212aelvin replie\u017f</p>".encode(),  # K sign, long s
        "<p>DİSCUSSİON</p>".encode(),
        b"<p>comme\xc3\xa9nt discuss\xffion</p>",
        "<p>R\u00c9PONSES reSponSes</p>".encode(),
        b"\xff\xfe" + "comment".encode("utf-16-le"),
    ]
    for html in pages:
        assert _mentions_vocab(html) == (regex.search(html) is not None), html


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.sampled_from(
                [b"comment", b"REVIEW", b"DiScUsSiOn", b"replies", b"ResPonses",
                 b"comm", b"\xc4\xb0", b"\xe2\x84\xaa", b"<div>", b" "]
            ),
            st.binary(max_size=6),
        ),
        max_size=12,
    )
)
def test_probe_matches_regex_fuzz(parts):
    import re

    from webx.comments import _mentions_vocab

    html = b"".join(parts)
    regex = re.compile(rb"comment|review|discussion|replies|responses", re.I)
    assert _mentions_vocab(html) == (regex.search(html) is not None)


def test_review_vocabulary():
    html = (
        _ARTICLE
        + b'<section class="reviews"><p>Survived a week of coastal drizzle '
        b"strapped to the tent ridge line without failures.</p></section>"
    )
    _, com, _ = _split(html)
    assert "coastal drizzle" in com


def test_straddling_span_splits_at_boundary():
    # article paragraph and comment block merge into ONE span (adjacent
    # candidates); the byte partition must split it at the region edge
    html = (
        b"<p>Main paragraph long enough to be a candidate block on its "
        b"own terms here.</p>"
        b'<div class="comments"><p>Comment paragraph also long enough to '
        b"be kept by the detector.</p></div>"
    )
    text, com, n = _split(html)
    assert "Main paragraph" in text and "Main paragraph" not in com
    assert "Comment paragraph" in com and "Comment paragraph" not in text
    assert n == 1


def test_corpus_fixtures():
    fixdir = os.path.join(os.path.dirname(__file__), "fixtures", "gnarly")
    with open(os.path.join(fixdir, "49_blog_comments.html"), "rb") as fh:
        text, com, _ = _split(fh.read())
    assert "ccache" in com and "ccache" not in text
    assert "generated" in text
    with open(os.path.join(fixdir, "46_product_page.html"), "rb") as fh:
        text46, com46, _ = _split(fh.read())
    assert "coastal drizzle" in com46 and "rechargeable camp light" in text46


_FRAGS = st.sampled_from(
    [
        b'<div class="comments">', b"</div>", b"<div>", b"<section id=replies>",
        b"</section>", b'<div class="comment"/>', b"<ul class=reviews>",
        b"</ul>", b"<ol>", b"<!--", b"-->", b"<script>", b"</script>",
        b"<p>", b"</p>", b"text content words here", b"x", b" ", b"\n",
        b"<", b">", b"'", b"\"", b"\xc3\xa9", b"<div title='class=comment'>",
    ]
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_FRAGS, max_size=50))
def test_regions_total_and_wellformed(parts):
    html = b"".join(parts)
    regs = comment_regions(html)
    prev = 0
    for s, e in regs:
        assert 0 <= s <= e <= len(html)
        assert s >= prev  # document order, non-overlapping
        prev = e


def test_spark_lane(spark):
    from webx import synth
    from webx.comments import split_comments

    pages = synth.synth_pages_comments(spark, "/root/testdata/sf0.001")
    out = split_comments(pages, CFG)
    row = out.orderBy("url").first()
    assert row["comment_text"].startswith("Comments\n")
    assert row["n_comment_spans"] == 1
    assert "MapInPandas" in out._jdf.queryExecution().executedPlan().toString()


def test_editorial_review_pos_override():
    # class="movie-review article": the positive token keeps an
    # EDITORIAL review in the main stream
    html = (
        b'<div class="movie-review article"><h1>Harbor Lights reviewed</h1>'
        b"<p>The film turns a slow ferry crossing into a study of light "
        b"and patience that rewards the attentive viewer.</p></div>"
    )
    text, com, n = _split(html)
    assert "ferry crossing" in text and com == "" and n == 0


def test_pre_page_main_text_matches_flagship():
    # parts decode through the flagship's _decode_spans — a page with a
    # <pre> block (and no comment regions) must produce the exact
    # flagship text, whitespace preserved
    from webx.extract import extract_batch

    html = (
        _ARTICLE
        + b"<pre>$ make -j32\n    CXX   a.o   b.o</pre>"
    )
    text, com, n = _split(html)
    flag = extract_batch(
        pd.DataFrame({"url": ["u"], "html": [html]}), CFG
    ).iloc[0]["text"]
    assert text == flag
    assert "    CXX   a.o   b.o" in text
    assert com == "" and n == 0


def test_rawkept_page_main_text_matches_flagship():
    from webx.extract import extract_batch

    html = (
        _ARTICLE
        + b"<xmp>literal <b>not bold</b>   kept</xmp>"
    )
    text, _, _ = _split(html)
    flag = extract_batch(
        pd.DataFrame({"url": ["u"], "html": [html]}), CFG
    ).iloc[0]["text"]
    assert text == flag
    assert "<b>not bold</b>" in text


def test_pre_inside_comment_region_preserved():
    html = (
        _ARTICLE
        + b'<div class="comments"><p>A commenter pasted a shell log with '
        b"enough surrounding words to pass candidate scoring gates.</p>"
        b"<pre>$ run --flag\n    out  put</pre></div>"
    )
    text, com, _ = _split(html)
    assert "$ run --flag\n    out  put" in com
    assert "out  put" not in text


def test_gnarly_main_text_matches_flagship():
    # every lane decodes through the one document front: on a page with
    # no comment region the main text IS the flagship text, including
    # the effective codec of a charset-fallback page (fixture 40)
    from webx.extract import extract_batch

    fixdir = os.path.join(os.path.dirname(__file__), "fixtures", "gnarly")
    pages = {}
    for name in sorted(os.listdir(fixdir)):
        if name.endswith(".html"):
            with open(os.path.join(fixdir, name), "rb") as fh:
                html = fh.read()
            if not comment_regions(html):
                pages[name] = html
    assert len(pages) == 48 and "40_late_charset_decl.html" in pages
    df = pd.DataFrame({"url": list(pages), "html": list(pages.values())})
    got = split_comments_batch(df, CFG)
    flag = extract_batch(df, CFG)
    assert got["text"].tolist() == flag["text"].tolist()
    assert got["comment_text"].tolist() == [""] * len(pages)


def test_header_charset_reaches_every_html_lane():
    """A cp1251 page whose meta says utf-8, served with an HTTP-header
    charset of windows-1251: the header wins in every HTML lane, so the
    comments lane's main text equals the flagship text (Cyrillic, not
    latin-1 mojibake), and markdown and table cells decode the same."""
    from webx.extract import extract_batch
    from webx.markdown import render_markdown_batch
    from webx.tables import tables_batch

    page = (
        '<html><head><meta charset="utf-8"></head><body><article>'
        "<h1>Новости дня</h1><p>Новости дня: сегодня в городе открылась "
        "новая библиотека, и жители пришли посмотреть на неё.</p>"
        "<table><tr><th>Город</th><th>Число</th></tr>"
        "<tr><td>Новости дня</td><td>12</td></tr></table>"
        "</article></body></html>"
    ).encode("cp1251")
    pdf = pd.DataFrame(
        {"url": ["u"], "html": [page], "http_charset": ["windows-1251"]}
    )
    flag = extract_batch(pdf, CFG, charset_col="http_charset")
    assert "Новости дня" in flag["text"][0]
    com = split_comments_batch(pdf, CFG, charset_col="http_charset")
    assert com["text"][0] == flag["text"][0]
    md = render_markdown_batch(pdf, CFG, charset_col="http_charset")
    assert "# Новости дня" in md["markdown"][0]
    cells = tables_batch(pdf, CFG, charset_col="http_charset")["cell"].tolist()
    assert "Новости дня" in cells and "Город" in cells
