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

    assert ex.resolve_extract_spans("off") is None
    assert ex.resolve_extract_spans("auto") is not None  # kernel built

    seg = b"lorem ipsum dolor sit amet consectetur adipiscing elit " * 3
    html = (b"<div>" + seg + b"</div>") * 4  # 4 adjacent candidate blocks
    _, ref = ex._extract_doc_stage1(html, ExtractConfig(ckernels="off"))
    assert any(s.last_block - s.first_block >= 2 for s in ref)

    def boom(*args, **kwargs):
        raise AssertionError("Python finalization ran on the C path")

    monkeypatch.setattr(ex, "merge_runs_table", boom)
    spans = _stage1_final_c(html, ExtractConfig())
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
    """The routing under test: the batch stage-1 entry (one
    wx_extract_batch call) over one document front."""
    import webx.extract as ex

    (spans,), _ = ex._stage1([(html, {"charset": "utf-8"}, "ok")], cfg)
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
    _, ref = ex._extract_doc_stage1(html, ExtractConfig(ckernels="off"))
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


# ---- the batch entry (wx_extract_batch): one C call per Arrow batch


def _bits(v):
    """v with every float replaced by its bit pattern (float.hex)."""
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, dict):
        return {k: _bits(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_bits(x) for x in v]
    return v


def _assert_batch_equals_reference(pdf, cfg, charset_col=None):
    """extract_batch through the batch kernel equals ckernels='off' row
    for row, span scores and conf compared bit for bit."""
    import dataclasses

    from webx.extract import extract_batch

    got = extract_batch(pdf, cfg, charset_col=charset_col)
    ref = extract_batch(
        pdf, dataclasses.replace(cfg, ckernels="off"), charset_col=charset_col
    )
    assert list(got.columns) == list(ref.columns)
    assert len(got) == len(ref) == len(pdf)
    for a, b in zip(got.itertuples(index=False), ref.itertuples(index=False)):
        assert _bits(list(a)) == _bits(list(b))


_ART = b"<p>" + b"alpha beta gamma delta epsilon zeta eta theta " * 4 + b"</p>"

_MIXED_BATCH = [
    None,
    b"",
    "﻿<html><body><p>a UTF-16 page with enough words to keep as "
    "content</p></body></html>".encode("utf-16"),
    b'<html><head><meta charset="x-user-defined"></head><body>' + _ART
    + b"<p>caf\xe9 \xe9t\xe9 and more words to make a long content block</p>"
    b"</body></html>",
    # declared utf-8, invalid utf-8: charset_fallback to latin-1
    b'<html><head><meta charset="utf-8"></head><body><p>caf\xe9 na\xefve '
    b"r\xe9sum\xe9 words that make a long content block of text</p></body></html>",
    b"<html><body>" + _ART + b"<pre>  code   line\n    indented  </pre>"
    + _ART + b"</body></html>",
    b"<html><body>" + _ART + b"<p>raw <xmp><b>kept</b>   as   text</xmp> "
    b"and a tail of words to make the block long</p></body></html>",
    b"<html><body><p>fish &amp; chips &lt;tag&gt; &eacute;t&eacute; &#8212; "
    b"an entity-heavy paragraph of text</p></body></html>",
    "<html><body><p>Новости дня: длинный абзац текста на русском языке</p>"
    "<p>日本語の文章もここにあります。十分な長さのテキストです。</p>"
    "</body></html>".encode("utf-8"),
    b"<html><body>" + _ART * 60 + b"</body></html>",  # cut at limit_side_len
    b"<html><body>" + b"".join(  # more runs than max_candidates
        _ART + b"<nav><a href='/x'>link</a></nav>" for _ in range(12)
    ) + b"</body></html>",
    b'<html><head><meta charset="utf-16le"></head><body>' + _ART
    + b"</body></html>",  # not ASCII-compatible: stage 1 only in C
    b"<html><body><listing>  a   b\n  c </listing>" + _ART
    + b"<plaintext>" + _ART,
    b"\r\n\t<p>a\r\nb\t\tc\x0bd\x0ce    " + b"word " * 30 + b"</p>",
]


@pytest.mark.parametrize("hinted", [False, True])
def test_batch_kernel_mixed_batch_matches_reference(hinted):
    """One batch mixing NULL, empty, BOM, x-user-defined, fallback,
    pre/xmp/listing/plaintext, entity and non-ASCII pages, a page cut
    at limit_side_len and one with more runs than max_candidates."""
    import pandas as pd

    from webx.config import ExtractConfig

    n = len(_MIXED_BATCH)
    pdf = pd.DataFrame({"url": [f"u{i}" for i in range(n)], "html": _MIXED_BATCH})
    col = None
    if hinted:
        hints = [None, "utf-8", "windows-1251", "latin-1", "x-user-defined", "bogus"]
        pdf["http_charset"] = [hints[i % len(hints)] for i in range(n)]
        col = "http_charset"
    for cfg in (
        ExtractConfig(),
        ExtractConfig(max_candidates=3, limit_side_len=1500),
        ExtractConfig(drop_score=0.0, nfc=True, expand_ratio=0.4),
    ):
        _assert_batch_equals_reference(pdf, cfg, col)


_BATCH_FRAGMENTS = st.one_of(
    _FRAGMENTS,
    st.sampled_from([
        b"<pre>", b"</pre>", b"<PRE class=x>", b"&eacute;", b"&#8212;",
        b'<meta charset="x-user-defined">', b'<meta charset="latin-1">',
        b'<meta charset="utf-16">', b'<img src="a.png" alt="b">',
        b"alpha beta gamma delta epsilon zeta eta theta " * 2,
    ]),
)
_BATCH_DOCS = st.one_of(
    st.none(),
    st.lists(_BATCH_FRAGMENTS, max_size=30).map(b"".join),
    st.binary(max_size=200),
)


@settings(max_examples=100, deadline=None)
@given(st.lists(_BATCH_DOCS, max_size=64))
def test_batch_kernel_fuzz_random_batches(docs):
    import pandas as pd

    from webx.config import ExtractConfig

    pdf = pd.DataFrame(
        {"url": [str(i) for i in range(len(docs))], "html": pd.Series(docs, dtype=object)}
    )
    _assert_batch_equals_reference(pdf, ExtractConfig())
    _assert_batch_equals_reference(pdf, ExtractConfig(drop_score=0.0, max_candidates=2))


def _flagship_pages(n: int) -> list:
    """Pages of the synth flagship template (webx.synth)."""
    from webx import synth

    words = "spark window merge table column vector stream value data small".split()
    out = []
    for i in range(n):
        did = f"Doc {i}"
        text = " ".join(words[(i * 7 + k) % len(words)] for k in range(30 + i % 50))
        out.append(
            (synth.P_HEAD_UTF8 + did + synth.P_CHROME + did + synth.P_MID
             + text + synth.P_TAIL).encode()
        )
    return out


class _CountingLib:
    """Stands in for ctokenize._lib and counts every C call."""

    def __init__(self, lib):
        from collections import Counter

        self._real = lib
        self.calls = Counter()

    def __getattr__(self, name):
        fn = getattr(self._real, name)

        def call(*args):
            self.calls[name] += 1
            return fn(*args)

        return call


def test_batch_kernel_constant_c_calls_per_batch(monkeypatch):
    """extract_batch crosses ctypes a constant number of times per
    batch, not once per document or span: 1,000 flagship documents
    take exactly the calls 10 do, and one of them is the batch entry."""
    import pandas as pd

    import webx.ctokenize as ck
    from webx.config import ExtractConfig
    from webx.extract import extract_batch

    cfg = ExtractConfig()
    counts = {}
    for n in (10, 1000):
        pages = _flagship_pages(n)
        pdf = pd.DataFrame({"url": [str(i) for i in range(n)], "html": pages})
        lib = _CountingLib(ck._lib)
        monkeypatch.setattr(ck, "_lib", lib)
        out = extract_batch(pdf, cfg)
        monkeypatch.setattr(ck, "_lib", lib._real)
        assert out["text"].str.startswith("Doc ").all()
        counts[n] = dict(lib.calls)
    assert counts[1000] == counts[10]
    assert counts[1000]["wx_extract_batch"] == 1
    assert sum(counts[1000].values()) <= 3


# ---- the WX_ROW front and final row (Arrow in, Arrow out)

_BOMS = (b"\xef\xbb\xbf", b"\xff\xfe", b"\xfe\xff")


def _front_fast_ref(raw: bytes, cfg) -> bool:
    """Whether a page qualifies for the kernel's document front, from
    the reference: no BOM, no NUL in bytes 0-3, not truncated, resolved
    to utf-8 by sniff_charset's fast paths alone (the full prescan is
    stubbed out) and strictly valid UTF-8. A qualifying page leaves
    ``_doc_front`` unchanged, with status ok and codec utf-8."""
    from unittest import mock

    import webx.charset as cs
    from webx.extract import _doc_front

    if not raw or len(raw) > cfg.limit_side_len or b"\x00" in raw[:4]:
        return False
    if raw[:3] == _BOMS[0] or raw[:2] in _BOMS[1:]:
        return False
    with mock.patch.object(cs, "_sniff_prescan", lambda head, default: None):
        if cs.sniff_charset(raw, cfg.default_charset) != "utf-8":
            return False
    try:
        raw.decode("utf-8")
    except UnicodeDecodeError:
        return False
    html, meta, status = _doc_front(raw, None, cfg)
    assert (html, status) == (raw, "ok")
    assert meta == {"html_bytes": len(raw), "n_blocks": 0, "truncated": False,
                    "charset": "utf-8"}
    return True


def _front_fast_c(pages: list, cfg) -> list:
    """The kernel's front verdict per page: with drop_score above every
    score no span is kept, so a page's row is final exactly when it
    passes the front."""
    import dataclasses

    import pyarrow as pa

    from webx.ctokenize import extract_rows
    from webx.extract import _doc_buffers, _kernel_params

    html = pa.array(pages, pa.binary())
    addrs, lens = _doc_buffers(html, None)
    r = extract_rows(addrs, lens, _kernel_params(dataclasses.replace(cfg, drop_score=2.0)))
    return r.done.tolist()


_FRONT_FRAGMENTS = st.sampled_from([
    b'<meta charset="utf-8">', b'<META CHARSET="UTF-8">', b'<Meta Charset="Utf-8">',
    b'<meta charset="utf-8"/>', b'<meta charset="utf-8" />', b'<meta charset="utf-8"',
    b"<meta charset='utf-8'>", b'<meta charset = "utf-8">', b'<meta  charset="utf-8">',
    b'<meta charset="utf8">', b'<meta charset="latin-1">', b'<meta charset="utf-16">',
    b'<meta http-equiv="Content-Type" content="text/html; charset=utf-8">',
    b"<meta name=x>", b"<meta", b"<me", b"ta", b"<!--", b"-->", b"<!-- c -->",
    b"<html>", b"<head>", b"<title>t</title>", b"<p>", b"words ", b" ", b"/", b">",
    b"\x00", b"<\x00", b"\xc3\xa9", b"\xe2\x86\x92", b"\xf0\x9f\x98\x80",
    b"\xc0\xaf", b"\xc1\xbf", b"\xe0\x80\xaf", b"\xe0\x9f\xbf", b"\xed\xa0\x80",
    b"\xed\xbf\xbf", b"\xf0\x8f\xbf\xbf", b"\xf4\x90\x80\x80", b"\xf5\x80\x80\x80",
    b"\x80", b"\xbf", b"\xe2\x82", b"\xf0\x9f\x98", b"\xc3", b"\xff", b"\xfe",
])


@st.composite
def _front_pages(draw):
    lead = draw(st.sampled_from([b"", *_BOMS, b"\x00<", b"<\x00", b"a\x00", b"ab\x00"]))
    # filler that moves the fragments across the 1,024-byte head edge
    fill = b"a" * draw(st.integers(0, 1040))
    parts = draw(st.lists(_FRONT_FRAGMENTS, max_size=12))
    cut = draw(st.integers(0, len(parts)))
    return lead + b"".join(parts[:cut]) + fill + b"".join(parts[cut:])


@settings(max_examples=400, deadline=None)
@given(st.lists(_front_pages(), min_size=1, max_size=8),
       st.sampled_from(["utf-8", "windows-1252", "UTF-8"]),
       st.sampled_from([4_000_000, 1030]))
def test_row_front_matches_doc_front(pages, default_charset, limit):
    """The kernel's document front (front_utf8) against _doc_front:
    meta case and spacing, <!-- before or after the meta, the meta
    straddling byte 1,024 and '/>' cut at the head edge, BOMs, NULs in
    bytes 0-3, overlong/surrogate/truncated UTF-8 and a default charset
    other than utf-8."""
    from webx.config import ExtractConfig

    cfg = ExtractConfig(default_charset=default_charset, limit_side_len=limit)
    assert _front_fast_c(pages, cfg) == [_front_fast_ref(p, cfg) for p in pages]


def test_row_front_head_edge():
    """The canonical meta whose '>' or '/>' falls just inside or just
    outside the first 1,024 bytes."""
    from webx.config import ExtractConfig

    cfg = ExtractConfig()
    meta = b'<meta charset="utf-8"'
    pages = [b"a" * (1024 - len(meta) - k) + meta + tail + b"<p>x</p>"
             for k in range(-1, 3) for tail in (b">", b"/>")]
    assert _front_fast_c(pages, cfg) == [_front_fast_ref(p, cfg) for p in pages]
    assert any(_front_fast_c(pages, cfg)) and not all(_front_fast_c(pages, cfg))


_UTF8_EDGES = [
    b"\xc3\xa9", b"\xe2\x86\x92", b"\xf0\x9f\x98\x80", b"\xed\x9f\xbf",
    b"\xee\x80\x80", b"\xf4\x8f\xbf\xbf", b"\xc2\x80", b"\xdf\xbf",
    b"\xc0\xaf", b"\xc1\xbf", b"\xe0\x80\xaf", b"\xe0\x9f\xbf",
    b"\xed\xa0\x80", b"\xed\xbf\xbf", b"\xf0\x8f\xbf\xbf", b"\xf4\x90\x80\x80",
    b"\xf5\x80\x80\x80", b"\xf8\x88\x80\x80\x80", b"\xff", b"\x80", b"\xbf",
    b"\xe2\x82", b"\xf0\x9f\x98", b"\xc3", b"\xe2\x28\xa1", b"\xc3\x28",
]


def test_row_front_utf8_edges():
    """Each well-formed and ill-formed UTF-8 edge, mid-page and at the
    very end of the page, judged as CPython's strict decoder does."""
    from webx.config import ExtractConfig

    cfg = ExtractConfig()
    pages = [p for seq in _UTF8_EDGES
             for p in (b"<p>" + seq + b" text</p>", b"<p>words " * 3 + seq)]
    got = _front_fast_c(pages, cfg)
    assert got == [_front_fast_ref(p, cfg) for p in pages]
    assert any(got) and not all(got)


def _arrow_rows(batch, cfg, passthrough=(), charset_col=None) -> list:
    from webx.extract import make_extract_fn

    out = list(make_extract_fn(cfg, passthrough, charset_col)([batch]))
    for b in out:
        b.validate(full=True)
    return [_bits(row) for b in out for row in b.to_pylist()]


def test_arrow_batch_matches_reference():
    """The mapInArrow body against ckernels='off', row for row with
    float bits, on a sliced RecordBatch with NULL html, a header-charset
    column, timestamp and string passthrough, a page over
    limit_side_len, a non-ASCII join_sep and a span scoring exactly
    drop_score."""
    import dataclasses
    import datetime

    import pandas as pd
    import pyarrow as pa

    from webx.config import ExtractConfig
    from webx.extract import detect_batch

    pages = _flagship_pages(40) + _MIXED_BATCH + [
        b"<html><body>" + _ART * 3 + b"<p>" + b"x" * 900 + b"</p></body></html>"
    ]
    n = len(pages)
    # a span score of the batch's first page, to drop at exactly it
    spans = detect_batch(pd.DataFrame({"url": ["u"], "html": pages[3:4]}),
                         ExtractConfig())["spans"][0]
    edge = max(s["score"] for s in spans)
    ts = [datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
          + datetime.timedelta(seconds=i) for i in range(n)]
    hints = [None if i % 4 else ("windows-1251", "utf-8", "bogus")[i // 4 % 3]
             for i in range(n)]
    batch = pa.RecordBatch.from_pydict({
        "url": [f"u{i}" for i in range(n)],
        "html": pa.array(pages, pa.binary()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "lang": [None if i % 5 == 0 else "en" for i in range(n)],
        "http_charset": pa.array(hints, pa.string()),
    }).slice(3, n - 5)
    assert batch.column("html").offset == 3
    for cfg in (
        ExtractConfig(),
        ExtractConfig(limit_side_len=1500, join_sep=" ¶ ", nfc=True),
        ExtractConfig(drop_score=edge, expand_ratio=0.4),
    ):
        off = dataclasses.replace(cfg, ckernels="off")
        for args in ((("ts", "lang"), "http_charset"), (("lang",), None), ((), None)):
            got = _arrow_rows(batch, cfg, *args)
            assert got == _arrow_rows(batch, off, *args)
            assert len(got) == batch.num_rows
    # the edge span is kept (score >= drop_score) on the C path
    row = _arrow_rows(batch.slice(0, 1), ExtractConfig(drop_score=edge))[0]
    assert edge.hex() in [s["score"] for s in row["spans"]]


def test_flagship_batch_skips_the_python_front(monkeypatch):
    """A 10,000-document flagship batch runs no _doc_front and crosses
    ctypes a constant number of times: the calls 10 documents make."""
    import pyarrow as pa

    import webx.ctokenize as ck
    import webx.extract as ex
    from webx.config import ExtractConfig

    fronts = []
    real_front = ex._doc_front
    monkeypatch.setattr(
        ex, "_doc_front", lambda *a: fronts.append(1) or real_front(*a)
    )
    counts = {}
    for n in (10, 10_000):
        batch = pa.RecordBatch.from_pydict({
            "url": [str(i) for i in range(n)],
            "html": pa.array(_flagship_pages(n), pa.binary()),
        })
        lib = _CountingLib(ck._lib)
        monkeypatch.setattr(ck, "_lib", lib)
        out = list(ex.make_extract_fn(ExtractConfig())([batch]))
        del out
        monkeypatch.setattr(ck, "_lib", lib._real)
        counts[n] = dict(lib.calls)
    assert fronts == []
    assert counts[10_000] == counts[10]
    assert counts[10_000]["wx_extract_batch"] == 1


def test_arrow_batch_splits_past_int32_offsets(monkeypatch):
    """A batch whose kernel columns would overflow int32 Arrow offsets
    comes out as several output batches, with the same rows."""
    import pyarrow as pa

    import webx.extract as ex
    from webx.config import ExtractConfig

    n = 64
    batch = pa.RecordBatch.from_pydict({
        "url": [str(i) for i in range(n)],
        "html": pa.array(_flagship_pages(n), pa.binary()),
    })
    whole = list(ex.make_extract_fn(ExtractConfig())([batch]))
    monkeypatch.setattr(ex, "_I32_MAX", 3000)
    parts = list(ex.make_extract_fn(ExtractConfig())([batch]))
    assert len(whole) == 1 and len(parts) > 1
    assert [r for b in parts for r in b.to_pylist()] == whole[0].to_pylist()


# ---- every HTML lane on the batch entries


# the gnarly pages with <pre>/<xmp> text or comment regions: their spans
# or parts leave the batch call's stage-2 fast path
_GNARLY_STAGE2 = ("04", "30", "48", "43", "46", "49")


def _gnarly_pages(n: int) -> list:
    """The committed gnarly corpus cycled to n pages, the pages of
    ``_GNARLY_STAGE2`` first, so that 10 pages already take every path
    1,000 do."""
    import glob
    import os

    paths = sorted(glob.glob(os.path.join(
        os.path.dirname(__file__), "fixtures", "gnarly", "*.html")),
        key=lambda p: (os.path.basename(p)[:2] not in _GNARLY_STAGE2, p))
    pages = []
    for p in paths:
        with open(p, "rb") as fh:
            pages.append(fh.read())
    return [pages[i % len(pages)] for i in range(n)]


def _lane_fn(lane: str):
    from webx.comments import split_comments_batch
    from webx.extract import detect_batch, interleave_batch
    from webx.markdown import render_markdown_batch

    return {
        "detect": detect_batch,
        "interleave": interleave_batch,
        "comments": split_comments_batch,
        "markdown": render_markdown_batch,
    }[lane]


@pytest.mark.parametrize("pages", ["flagship", "gnarly"])
@pytest.mark.parametrize("lane", ["detect", "interleave", "comments", "markdown"])
def test_lanes_constant_c_calls_per_batch(monkeypatch, lane, pages):
    """Each HTML lane crosses into the kernel's stages a constant number
    of times per batch: 1,000 documents make the wx_extract_batch and
    wx_tokenize calls 10 do, and markdown tokenizes only inside the
    batch entry."""
    import pandas as pd

    import webx.ctokenize as ck
    from webx.config import ExtractConfig

    make = _flagship_pages if pages == "flagship" else _gnarly_pages
    counts = {}
    for n in (10, 1000):
        pdf = pd.DataFrame({"url": [str(i) for i in range(n)], "html": make(n)})
        lib = _CountingLib(ck._lib)
        monkeypatch.setattr(ck, "_lib", lib)
        out = _lane_fn(lane)(pdf, ExtractConfig())
        monkeypatch.setattr(ck, "_lib", lib._real)
        assert len(out) >= n if lane == "interleave" else len(out) == n
        counts[n] = {k: lib.calls[k] for k in ("wx_extract_batch", "wx_tokenize")}
    assert counts[1000] == counts[10]
    assert 1 <= counts[1000]["wx_extract_batch"] <= 2
    if lane == "markdown":
        assert counts[1000]["wx_tokenize"] == 0


def _split_spans(pages: list, cfg) -> list:
    """markdown's stage 1 (the heading-split run rule) over one batch →
    per page (n_blocks, [(start, end, kind, score bits, first, last)])."""
    import pandas as pd

    from webx.extract import _stage1, lane_fronts

    pdf = pd.DataFrame({"url": [str(i) for i in range(len(pages))],
                        "html": pd.Series(pages, dtype=object)})
    fronts = lane_fronts(pdf, cfg)
    spans, _ = _stage1(fronts, cfg, heading_split=True)
    return [
        (meta["n_blocks"],
         [(s.start, s.end, s.kind, s.score.hex(), s.first_block, s.last_block)
          for s in doc])
        for (_, meta, _), doc in zip(fronts, spans)
    ]


_SPLIT_CFGS = [
    {},
    {"min_span_chars": 200, "max_candidates": 2},
    {"expand_ratio": 0.4, "rescue_max_chars": 0, "binary_thresh": 0.3},
]


def _assert_split_matches_off(pages: list):
    """The heading-split rule in C equals the ckernels='off' reference:
    span bounds, kinds, block indices and the float bits of scores."""
    from webx.config import ExtractConfig

    for kw in _SPLIT_CFGS:
        got = _split_spans(pages, ExtractConfig(**kw))
        assert got == _split_spans(pages, ExtractConfig(ckernels="off", **kw))


def test_heading_split_matches_reference_gnarly():
    from webx.config import ExtractConfig

    pages = _gnarly_pages(50) * 8
    _assert_split_matches_off(pages)
    # the rule is live on this corpus: heading spans stand alone
    assert any(span[2] == "heading"
               for _, doc in _split_spans(pages[:50], ExtractConfig()) for span in doc)


def test_heading_split_matches_reference_synth(spark):
    from webx import synth

    for name in sorted(n for n in dir(synth) if n.startswith("synth_pages")):
        rows = getattr(synth, name)(spark, "/root/testdata/sf0.001").select("html").collect()
        _assert_split_matches_off([None if r.html is None else bytes(r.html) for r in rows])


_SPLIT_FRAGMENTS = st.one_of(
    _FRAGMENTS,
    st.sampled_from([
        b"<h2 class='wp-block-heading has-text-align-center'>", b"</h2>",
        b"<H3>", b"</H3>", b"<h6 id=x>", b"</h6>", b"<title>", b"</title>",
        b"alpha beta gamma delta epsilon zeta eta theta " * 2,
        b"short head", b"<p>" + b"lorem ipsum dolor sit amet " * 4 + b"</p>",
    ]),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.lists(_SPLIT_FRAGMENTS, max_size=40).map(b"".join), max_size=8))
def test_heading_split_fuzz_matches_reference(pages):
    _assert_split_matches_off(pages)
