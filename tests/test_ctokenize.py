"""Bit-identity of the C tokenizer kernel vs the Python reference.

The C path (webx/_ctok.c) is only legal while it is indistinguishable
from webx.tokenize.tokenize on every input — these tests are the gate:
crafted corners, the synth page corpus, and a hypothesis differential
fuzz over an HTML-shaped alphabet (quotes, comments, CDATA, rawtext,
multi-byte and null bytes)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from webx.ctokenize import AVAILABLE, tokenize_c
from webx.tokenize import tokenize

pytestmark = pytest.mark.skipif(not AVAILABLE, reason="C kernel not built")


CORNERS = [
    b"",
    b"plain text only",
    b"<p>hello</p>",
    b"<script>var a = '<p>not</p>';</script><p>real</p>",
    b"<script>unterminated rawtext",
    b"<!-- a -- b --><p>y</p>",
    b"<!-- unterminated comment <p>x</p>",
    b"<![CDATA[ <p>no</p> ]]><p>z</p>",
    b"<![CDATA[ unterminated <p>q</p>",
    b"<!--->degenerate<p>k</p>",
    b"<!-->degenerate2<p>m</p>",
    b"<a href=\"x>y\">quoted gt</a><p>w</p>",
    b"<p attr='unterminated quote to eof",
    b"text < notatag > more <p>t</p>",
    b"<P CLASS='X'>UPPER</P>",
    b"<nav>m <a href='/'>h</a></nav><article>content</article>",
    b"<textarea><p>inside</p></textarea>out",
    b"<script>x</scriptx>still raw</script><p>after</p>",
    b"nul\x00byte<p>seg\x00ment</p>",
    b"\xc3\xa9 caf\xc3\xa9 <p>utf8 \xe2\x86\x92</p>",
    b"<svg:rect width='5'/>inline<p>n</p>",
    b"< p>not</ p><p>yes</p>",
    b"</title>close first<title>t</title>",
    b"<noscript>hidden</noscript><p>shown</p>",
    b"<h2>head</h2> trailing tail text",
    b"<div>" * 50 + b"deep" + b"</div>" * 50,
    b"<br><hr><br>",
    b"<a>" * 10 + b"linked text" + b"</a>" * 20 + b"<p>f</p>",
    # class/id-hint boilerplate regions + title-as-metadata
    b"<div class=\"cookie-banner\">drop me</div><p>keep this paragraph</p>",
    b"<div id=ad>unquoted drop</div>after",
    b"<DIV CLASS='Banner'>case</DIV>rest",
    b"<div class=\"ad content\">positive token wins</div>",
    b"<div title=\"class=banner\">value trap stays content</div>",
    b"<section id='sidebar'>s</section><p>b</p>",
    b"<div class=ad><div>inner</div>still dropped</div>freed",
    b"</div><div class=ad>stray close first</div>out",
    b"<div class=ad/>self-closing opens a region",
    b"<div class>no value</div>",
    b"<div class = banner >spaced</div>",
    b"<div class='x'id=promo>quote-adjacent</div>",
    b"<title>Site Title</title><p>body paragraph of real text</p>",
    b"<title>unclosed title swallowed <body>reset by body<p>kept</p>",
    b"<head><title>t</title></head><body><p>prose</p></body>",
    b"<div class=\"a b-c d_e 12ad\">token split</div>",
    # raw-kept elements (xmp/plaintext) + listing-as-block
    b"<p>pre</p><xmp>Use <b>bold</b> &amp; raw</xmp><p>post</p>",
    b"<xmp>unclosed raw to eof <p>ghost</p>",
    b"<plaintext>rest <of> file is &amp; raw <p>forever",
    b"<listing>parsed <b>like pre</b></listing><p>z</p>",
    b"</xmp>stray close<p>k</p>",
    b"<XMP Class='y'>upper raw</XMP>tail",
    b"<a><xmp>linked raw</xmp></a>",
    b"<nav><xmp>boiler raw</xmp></nav><p>free</p>",
    b"<xmp>   </xmp>ws-only raw",
    b"<script><xmp>hidden by script</xmp></script><p>q</p>",
    # non-prose drop regions + iframe/template as rawtext
    b"<p>before <svg><text>label</text></svg> after</p>",
    b"<p>a <select><option>US<option>CA</select> b</p>",
    b"<p><ruby>\xe6\xbc\xa2<rt>kan</rt></ruby> base</p>",
    b"<p><rt>omitted close<rt>next annot</ruby>done</p>",
    b"<p>unclosed <svg>swallow<p>rescued by block tag</p>",
    b"<p>sc <svg/> self-closed opens no region</p>",
    b"<svg><!-- </svg> -->hidden terminator</svg><p>k</p>",
    b"<svg><script>'</svg>'</script>x</svg><p>m</p>",
    b"<SELECT Class='c'><OPTION>A</SELECT>tail",
    b"<button>Confirm</button><math><mi>x</mi></math><p>t</p>",
    b"<video controls>no support text</video><audio>a</audio>end",
    b"<datalist><option>1<option>2</datalist><p>d</p>",
    b"<iframe src=/x><p>fallback</p></iframe><p>real</p>",
    b"<iframe>unclosed rawtext to eof <p>gone</p>",
    b"<template><div>inert {{x}}</div></template><p>v</p>",
    b"</svg>stray close<rp/>selfclosed<p>w</p>",
    b"<svgx>not svg</svgx><rtc>not rt</rtc><p>u</p>",
    b"<svg attr='q>r'>quoted gt in open tag</svg><p>g</p>",
    b"<p>eof-unterminated <select><option>A",
]


@pytest.mark.parametrize("html", CORNERS, ids=range(len(CORNERS)))
def test_corner_cases_identical(html):
    assert tokenize_c(html) == tokenize(html)


# HTML-shaped fragment soup: tags (valid + malformed), quotes, comments,
# rawtext islands, whitespace runs, multi-byte sequences, raw bytes.
_FRAGMENTS = st.sampled_from(
    [
        b"<p>", b"</p>", b"<div class='c'>", b"</div>", b"<a href=\"/x\">",
        b"</a>", b"<br/>", b"<h1>", b"</h1>", b"<nav>", b"</nav>",
        b"<script>", b"</script>", b"<style>", b"</style>",
        b"<textarea>", b"</textarea>", b"<noscript>", b"</noscript>",
        b"<!-- c -->", b"<!--", b"-->", b"<![CDATA[", b"]]>",
        b"<!doctype html>", b"<?pi ?>", b"<", b">", b"</", b"/>",
        b"\"", b"'", b"=", b" ", b"\t", b"\n", b"\r", b"\f", b"\v",
        b"word", b"text body", b"\xc3\xa9", b"\xe2\x86\x92", b"\x00",
        b"<TABLE>", b"</TD>", b"<x-unknown>", b"<a b<c>", b"< a>",
        b"<p attr='q>r'>", b"<p attr=\"unterm", b"--", b"]]",
        b"<div class=\"cookie-banner\">", b"<div id=ad>", b"<div class=ad/>",
        b"<section class='sidebar'>", b"</section>", b"<div class=\"ad content\">",
        b"<div title=\"class=banner\">", b"<div class = banner >",
        b"<title>", b"</title>", b"<head>", b"</head>", b"<body>",
        b"class=banner", b"id=promo", b"<DIV CLASS='Menu'>",
        b"<xmp>", b"</xmp>", b"<plaintext>", b"<listing>", b"</listing>",
        b"<XMP a='b'>", b"&amp;", b"<b>raw?</b>",
        # non-prose drop regions + iframe/template rawtext
        b"<svg>", b"</svg>", b"<svg viewBox='0 0 1 1'>", b"<svg/>",
        b"<select>", b"</select>", b"<option>", b"<button>", b"</button>",
        b"<rt>", b"</rt>", b"<rp>", b"<ruby>", b"</ruby>", b"<rtc>",
        b"<math>", b"</math>", b"<video>", b"</video>", b"<audio>",
        b"</audio>", b"<datalist>", b"</datalist>", b"<iframe>",
        b"</iframe>", b"<template>", b"</template>", b"<SVG >", b"</SVG>",
        b"<svgx>", b"<Rt x=1>", b"<rp/>", b"<svg attr='q>r'>",
    ]
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_FRAGMENTS, max_size=40))
def test_fuzz_differential(parts):
    html = b"".join(parts)
    assert tokenize_c(html) == tokenize(html)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_fuzz_raw_bytes(html):
    assert tokenize_c(html) == tokenize(html)


def test_extraction_e2e_parity(spark):
    """Full pipeline with the C kernel == full pipeline pinned to Python
    (exceptAll both directions on the full output row)."""
    from pyspark.sql import functions as F

    from webx import synth
    from webx.config import ExtractConfig
    from webx.pipeline import run_extraction

    pages = synth.synth_pages(spark, "/root/testdata/sf0.001")
    flat = lambda cfg: run_extraction(pages, cfg).select(
        "url", "text", F.to_json("spans").alias("sj"), "conf", "status"
    )
    a = flat(ExtractConfig(ckernels="require"))
    b = flat(ExtractConfig(ckernels="off"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_kernel_config_modes():
    from webx.extract import resolve_strip, resolve_tokenizer
    from webx.recognize import strip_markup

    assert resolve_tokenizer("off") is tokenize
    assert resolve_strip("off") is strip_markup
    assert resolve_tokenizer("auto")(b"<p>x y z</p>") == tokenize(b"<p>x y z</p>")
    assert resolve_strip("auto")(b"<p>x<br>y</p>") == strip_markup(b"<p>x<br>y</p>")
    with pytest.raises(ValueError, match="unknown ckernels"):
        resolve_tokenizer("rust")


@pytest.mark.parametrize("html", CORNERS, ids=range(len(CORNERS)))
def test_strip_corner_cases_identical(html):
    from webx.ctokenize import strip_markup_c
    from webx.recognize import strip_markup

    assert strip_markup_c(html) == strip_markup(html)


@settings(max_examples=300, deadline=None)
@given(st.lists(_FRAGMENTS, max_size=40))
def test_strip_fuzz_differential(parts):
    from webx.ctokenize import strip_markup_c
    from webx.recognize import strip_markup

    html = b"".join(parts)
    assert strip_markup_c(html) == strip_markup(html)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_strip_fuzz_raw_bytes(html):
    from webx.ctokenize import strip_markup_c
    from webx.recognize import strip_markup

    assert strip_markup_c(html) == strip_markup(html)


def test_synth_corpus_identical(spark):
    """Every page variant in the synth corpus lexes identically."""
    from webx import synth

    sf = "/root/testdata/sf0.001"
    for gen in (
        synth.synth_pages,
        synth.synth_pages_multi,
        synth.synth_pages_entities,
        synth.synth_pages_latin1,
        synth.synth_pages_edge,
    ):
        for row in gen(spark, sf).select("html").collect():
            h = bytes(row["html"])
            assert tokenize_c(h) == tokenize(h)


# ---- fused stage-1 kernel (wx_detect): tokenize+score+runs in one call


def _stage1_py(html: bytes, cfg):
    """Reference composition: Python tokenizer → block_scores →
    merge_runs_table (exactly what ckernels='off' runs)."""
    from webx.detect import block_scores, merge_runs_table
    from webx.extract import _tokenize_table_py

    start, end, tlen, link, tags, heading, boiler = _tokenize_table_py(html)
    if not len(tlen):
        return []
    scores = block_scores(tlen, link, tags, boiler, cfg)
    return merge_runs_table(start, end, tlen, heading, scores, cfg, link=link)


def _stage1_fused(html: bytes, cfg):
    from webx.ctokenize import detect_table
    from webx.detect import _finalize_runs

    start, end, tlen, heading, scores, runs = detect_table(
        html, cfg.tag_weight, cfg.binary_thresh, cfg.min_block_chars,
        cfg.rescue_thresh, cfg.rescue_max_chars,
    )
    if not len(tlen):
        return []
    return _finalize_runs(start, end, tlen, heading, scores, runs, cfg)


@pytest.mark.parametrize("html", CORNERS, ids=range(len(CORNERS)))
def test_detect_fused_corners_identical(html):
    from webx.config import ExtractConfig

    cfg = ExtractConfig()
    assert _stage1_fused(html, cfg) == _stage1_py(html, cfg)


@settings(max_examples=300, deadline=None)
@given(st.lists(_FRAGMENTS, max_size=40))
def test_detect_fused_fuzz_differential(parts):
    """Span lists (including exact float scores — namedtuple equality
    compares the doubles bitwise-equal-or-not) must match the Python
    reference on fragment soup; both paths score a run with the same
    webx.detect.weighted_mean fold, so summation order can never drift."""
    from webx.config import ExtractConfig

    html = b"".join(parts)
    cfg = ExtractConfig()
    assert _stage1_fused(html, cfg) == _stage1_py(html, cfg)


@settings(max_examples=120, deadline=None)
@given(st.binary(max_size=400))
def test_detect_fused_fuzz_raw_bytes(html):
    from webx.config import ExtractConfig

    cfg = ExtractConfig()
    assert _stage1_fused(html, cfg) == _stage1_py(html, cfg)


def test_detect_fused_multiblock_runs():
    """Force a multi-block candidate run (adjacent non-block-separated
    text segments via comments) so the multi-term score fold is
    exercised."""
    from webx.config import ExtractConfig

    cfg = ExtractConfig()
    seg = b"lorem ipsum dolor sit amet consectetur adipiscing elit " * 3
    html = b"<div>" + (seg + b"<!-- c -->") * 5 + seg + b"</div>"
    fused, py = _stage1_fused(html, cfg), _stage1_py(html, cfg)
    assert fused == py and fused


def test_detect_fused_gap_mode_falls_back(monkeypatch):
    """With the kernel loaded, a page whose candidate run spans >= 3
    blocks finishes stage 1 in the one C call: the Python run merge and
    finalization are never consulted, and the spans equal the
    ckernels='off' reference bit for bit."""
    import webx.extract as ex
    from webx.config import ExtractConfig

    assert ex.resolve_detect_final("off") is None
    assert ex.resolve_detect_final("auto") is not None  # kernel built

    seg = b"lorem ipsum dolor sit amet consectetur adipiscing elit " * 3
    html = (b"<div>" + seg + b"</div>") * 4  # 4 adjacent candidate blocks
    _, ref, _ = ex._extract_doc_stage1(html, ExtractConfig(ckernels="off"))
    assert any(s.last_block - s.first_block >= 2 for s in ref)

    def boom(*args, **kwargs):
        raise AssertionError("Python finalization ran on the C path")

    monkeypatch.setattr(ex, "merge_runs_table", boom)
    _, spans, _ = ex._extract_doc_stage1(html, ExtractConfig())
    assert spans == ref
    assert [s.score.hex() for s in spans] == [s.score.hex() for s in ref]


# ---- fully-fused stage-1 (wx_detect_final): + finalize/expand/validate


def _stage1_final_ref(html: bytes, cfg):
    """Reference: Python finalize + expand + validate over the Python
    stage-1 composition — exactly the ckernels='off' span list."""
    from webx.detect import expand_spans, validate_spans

    return validate_spans(
        expand_spans(html, _stage1_py(html, cfg), cfg.expand_ratio), len(html)
    )


def _stage1_final_c(html: bytes, cfg):
    """The routing under test: _extract_doc_stage1's fused branch."""
    import webx.extract as ex

    _, spans, _ = ex._extract_doc_stage1(html, cfg)
    return spans


@pytest.mark.parametrize("html", CORNERS, ids=range(len(CORNERS)))
def test_detect_final_corners_identical(html):
    from webx.config import ExtractConfig

    for cfg in (ExtractConfig(), ExtractConfig(expand_ratio=0.4)):
        assert _stage1_final_c(html, cfg) == _stage1_final_ref(html, cfg)


@settings(max_examples=300, deadline=None)
@given(st.lists(_FRAGMENTS, max_size=40))
def test_detect_final_fuzz_differential(parts):
    """Span lists from the FULLY-fused kernel (finalize + expand +
    validate in C, the weighted_mean fold for runs of any length) must
    equal the pure-Python reference bitwise — scores included."""
    from webx.config import ExtractConfig

    html = b"".join(parts)
    for cfg in (ExtractConfig(), ExtractConfig(expand_ratio=0.4)):
        assert _stage1_final_c(html, cfg) == _stage1_final_ref(html, cfg)


@settings(max_examples=120, deadline=None)
@given(st.binary(max_size=400))
def test_detect_final_fuzz_raw_bytes(html):
    from webx.config import ExtractConfig

    cfg = ExtractConfig()
    assert _stage1_final_c(html, cfg) == _stage1_final_ref(html, cfg)


def test_detect_final_long_run_falls_back_to_raw():
    """A candidate run of >= 3 blocks finalizes in C too (mode
    'final'), and its spans equal the ckernels='off' spans bit for bit,
    scores included."""
    import webx.extract as ex
    from webx.config import ExtractConfig
    from webx.ctokenize import detect_final

    cfg = ExtractConfig()
    seg = b"lorem ipsum dolor sit amet consectetur adipiscing elit " * 3
    html = (b"<div>" + seg + b"</div>") * 4  # 4 adjacent candidate blocks
    res = detect_final(
        html, cfg.tag_weight, cfg.binary_thresh, cfg.min_block_chars,
        cfg.box_thresh, cfg.min_span_chars, cfg.max_candidates,
        cfg.expand_ratio, cfg.rescue_thresh, cfg.rescue_max_chars,
    )
    assert res[0] == "final"
    assert list(zip(res[4], res[5])) == [(0, 3)]  # one 4-block run
    spans = _stage1_final_c(html, cfg)
    _, ref, _ = ex._extract_doc_stage1(html, ExtractConfig(ckernels="off"))
    assert spans == ref == _stage1_final_ref(html, cfg)
    assert [s.score.hex() for s in spans] == [s.score.hex() for s in ref]


def test_detect_final_single_and_pair_runs_finalize_in_c():
    """The synth flagship shape (runs of length 1 and 2) takes the C
    finalization path (mode='final')."""
    from webx.config import ExtractConfig
    from webx.ctokenize import detect_final

    cfg = ExtractConfig()
    html = (b"<p>" + b"alpha beta gamma delta epsilon zeta " * 3 + b"</p>"
            b"<nav><a href='/'>menu item</a></nav>"  # boiler: splits runs
            b"<h2>a heading line here</h2><p>"
            + b"eta theta iota kappa lambda mu " * 3 + b"</p>")
    res = detect_final(
        html, cfg.tag_weight, cfg.binary_thresh, cfg.min_block_chars,
        cfg.box_thresh, cfg.min_span_chars, cfg.max_candidates,
        cfg.expand_ratio, cfg.rescue_thresh, cfg.rescue_max_chars,
    )
    assert res[0] == "final" and len(res[2]) >= 1
    assert _stage1_final_c(html, cfg) == _stage1_final_ref(html, cfg)


@settings(max_examples=400, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(0, 1, allow_nan=False, width=64),
            st.integers(1, 100000),
        ),
        min_size=1,
        max_size=2,
    )
)
def test_scalar_dot_matches_npdot_for_n_le_2(pairs):
    """For n <= 2 the weighted_mean fold equals the np.dot (BLAS ddot)
    weighted mean bit for bit: pages whose runs and span lists are at
    most 2 long (all synth flagship and curate pages) keep the scores
    and conf an np.dot mean gives them."""
    import numpy as np

    from webx.detect import weighted_mean

    sc = [p[0] for p in pairs]
    w = [p[1] for p in pairs]
    wf = np.array(w, dtype=np.float64)
    ref = float(np.dot(np.array(sc, dtype=np.float64), wf) / max(wf.sum(), 1.0))
    assert weighted_mean(sc, w).hex() == ref.hex()


# ---- fused stage-2 strip+normalize (wx_strip_norm)


_SN_CHARSETS = ["utf-8", "ascii", "latin-1", "windows-1252", "shift_jis"]


def _assert_strip_norm_equiv(raw: bytes):
    from webx.ctokenize import strip_norm_c
    from webx.recognize import decode_span, decode_stripped, strip_markup

    out, done = strip_norm_c(raw)
    if done:
        # out IS the final text: must match decode_span under EVERY
        # ASCII-compatible charset (the kernel's commutation claim)
        text = out.decode("ascii")
        for cs in _SN_CHARSETS:
            assert text == decode_span(raw, cs), cs
    else:
        # fallback contract: out is exactly strip_markup's output, and
        # finishing in Python reproduces decode_span
        assert out == strip_markup(raw)
        for cs in _SN_CHARSETS:
            assert decode_stripped(out, cs) == decode_span(raw, cs), cs


_SN_CORNERS = [
    b"",
    b"plain words only",
    b"a  b   c    d",                      # double-space collapse
    b"x" * 6 + b"  tail",                  # pair at the word-scan seam
    b"x" * 7 + b"  tail",
    b"x" * 8 + b"  tail",
    b"x" * 9 + b"  tail",
    b" lead and trail ",
    b"\x1c\x1dmid\x1c line\x1e\x1f",        # CPython strip-set edges
    b"a\tb\fc\vd",                          # rare HWS bytes
    b"a\r\nb\rc",                           # CR normalization
    b"line1\n\n\nline2\n",                  # empty-line drop
    b"ends with &amp; entity",              # '&' -> fallback
    b"caf\xc3\xa9 non-ascii",               # >= 0x80 -> fallback
    b"<p>one</p><p>two  spaced</p>",
    b"<script>raw  text</script>kept",
    b"\n\n  \n\t\n",                        # whitespace-only
    b" " * 40,
    b"a" + b" " * 17 + b"b",
]


@pytest.mark.parametrize("raw", _SN_CORNERS, ids=range(len(_SN_CORNERS)))
def test_strip_norm_corners(raw):
    _assert_strip_norm_equiv(raw)


@settings(max_examples=300, deadline=None)
@given(st.lists(_FRAGMENTS, max_size=40))
def test_strip_norm_fuzz_differential(parts):
    _assert_strip_norm_equiv(b"".join(parts))


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_strip_norm_fuzz_raw_bytes(html):
    _assert_strip_norm_equiv(html)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=" \t\f\v\r\n\x1c\x1d\x1e\x1fab&.", max_size=120))
def test_strip_norm_fuzz_whitespace_soup(txt):
    """Dense whitespace/control soup targets the collapse + line-trim
    word-scan seams specifically."""
    _assert_strip_norm_equiv(txt.encode("ascii"))


def test_is_ascii_compatible_probe():
    """Stateful/shifting codecs whose ASCII bytes change meaning must
    be rejected; plain ASCII-supersets accepted; x-user-defined is
    ASCII passthrough by definition."""
    from webx.recognize import is_ascii_compatible

    for cs in _SN_CHARSETS + ["x-user-defined", "euc_jp", "gbk", "big5",
                              "koi8-r", "tis-620", "gb18030", "utf_8_sig"]:
        assert is_ascii_compatible(cs), cs
    # every CPython codec family that reinterprets ASCII byte sequences
    for cs in ["utf-16", "utf-16le", "utf-16be", "utf-32", "utf-7",
               "iso2022_jp", "iso2022_kr", "hz", "unicode_escape",
               "raw_unicode_escape", "punycode", "idna", "cp037",
               "no-such-charset"]:
        assert not is_ascii_compatible(cs), cs


def test_decode_spans_fallback_charsets(spark):
    """Pages whose effective codec is NOT ASCII-compatible (and pages
    full of entities / non-ASCII) must route around the fused kernel
    and still match the pure-Python pipeline — covered corpus-wide by
    the extract_batch equality below."""
    from webx import synth
    from webx.config import ExtractConfig
    from webx.extract import extract_batch

    for gen in (synth.synth_pages_latin1, synth.synth_pages_entities,
                synth.synth_pages_charset_edge):
        pdf = gen(spark, "/root/testdata/sf0.001").select("url", "html").toPandas()
        a = extract_batch(pdf, ExtractConfig())
        b = extract_batch(pdf, ExtractConfig(ckernels="off"))
        assert a.equals(b)
