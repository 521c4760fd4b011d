"""Stage-1 detector micro-goldens (the DBPostprocess-analog unit tests,
modeled on the reference's hand-computed metric goldens,
tests/ut/test_metrics.py:28-63)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.helpers import detect
from webx.config import ExtractConfig
from webx.detect import Span, block_scores, validate_spans
from webx.tokenize import tokenize

CFG = ExtractConfig()


def test_block_scores_plain_text_high():
    s = block_scores(
        np.array([100]), np.array([0]), np.array([0]), np.array([False]), CFG
    )
    assert s[0] > 0.95


def test_block_scores_link_farm_zero():
    # all text inside links -> density * (1 - 1.0) == 0
    s = block_scores(
        np.array([50]), np.array([50]), np.array([2]), np.array([False]), CFG
    )
    assert s[0] == 0.0


def test_block_scores_boiler_zeroed():
    s = block_scores(
        np.array([100]), np.array([0]), np.array([0]), np.array([True]), CFG
    )
    assert s[0] == 0.0


def test_block_scores_tag_heavy_penalized():
    light = block_scores(np.array([40]), np.array([0]), np.array([0]), np.array([False]), CFG)
    heavy = block_scores(np.array([40]), np.array([0]), np.array([20]), np.array([False]), CFG)
    assert heavy[0] < light[0] < 1.0


def test_detect_end_to_end_picks_article():
    html = (
        b"<nav><li><a href='/'>Home</a></li><li><a href='/a'>About</a></li></nav>"
        b"<h1>A Real Headline Here</h1>"
        b"<p>This is the long main content paragraph with plenty of text to score.</p>"
        b"<footer><p>(c) corp</p></footer>"
    )
    blocks = tokenize(html)
    spans = detect(blocks, CFG)
    assert len(spans) == 1
    s = spans[0]
    assert html[s.start : s.start + 4] == b"<h1>"[0:0] + html[s.start : s.start + 4]
    # span covers headline through paragraph, not nav/footer
    assert b"Real Headline" in html[s.start : s.end]
    assert b"main content" in html[s.start : s.end]
    assert b"Home" not in html[s.start : s.end]
    assert b"corp" not in html[s.start : s.end]


def test_merge_runs_respects_min_span_chars():
    html = b"<p>tiny</p>"
    blocks = tokenize(html)
    spans = detect(blocks, CFG)  # min_span_chars=25 default
    assert spans == []


def test_merge_gap_bridges_noncandidates():
    """Runs never bridge a non-candidate block: the link-only paragraph
    keeps the two paragraphs apart, and there is no knob to change
    that (``merge_gap`` is not a config key)."""
    html = (
        b"<p>First long candidate paragraph with enough text body.</p>"
        b"<p><a href='/x'>pure link</a></p>"
        b"<p>Second long candidate paragraph with enough text body.</p>"
    )
    spans = detect(tokenize(html), CFG)
    assert [(s.first_block, s.last_block) for s in spans] == [(0, 0), (2, 2)]
    with pytest.raises(ValueError, match="unknown config keys"):
        ExtractConfig.from_dict({"merge_gap": 1})


def test_max_candidates_cap():
    html = b"".join(
        b"<p>Paragraph number %d with sufficient textual content inside.</p>" % i
        for i in range(10)
    ) + b"<div><a href='/'>" + b"x" * 5 + b"</a></div>" * 1
    blocks = tokenize(html)
    cfg = ExtractConfig(max_candidates=3)
    # each <p> is its own span (separated only by block tags, no gap blocks)
    spans = detect(blocks, cfg)
    assert len(spans) <= 3


def test_validate_spans_clips_and_drops():
    spans = [
        Span(-5, 10, 0.9, "content", 0, 0),
        Span(5, 500, 0.9, "content", 1, 1),
        Span(50, 40, 0.9, "content", 2, 2),  # inverted -> dropped
        Span(100, 100, 0.9, "content", 3, 3),  # empty -> dropped
    ]
    out = validate_spans(spans, 100)
    assert [(s.start, s.end) for s in out] == [(0, 10), (5, 100)]


def test_span_sorted_nonoverlapping_invariant():
    # property from SURVEY §5: spans sorted by start, non-overlapping
    html = (
        b"<p>First long candidate paragraph with enough text body one.</p>"
        b"<div><a href='/b'>buy</a> <a href='/c'>cart</a></div>"
        b"<p>Second long candidate paragraph with enough text body two.</p>"
    )
    spans = detect(tokenize(html), CFG)
    assert len(spans) == 2
    assert spans[0].start < spans[0].end <= spans[1].start < spans[1].end


def test_heading_kind():
    html = b"<h1>A Standalone Heading With Plenty Of Characters</h1>"
    spans = detect(tokenize(html), CFG)
    assert len(spans) == 1 and spans[0].kind == "heading"


# ---- heading rescue (frozen predicate, webx/detect.py merge_runs_table)

_PARA = (
    b"The icebreaker fleet cleared the final channel on Tuesday and "
    b"scheduled departures restart this weekend with backlogged cargo "
    b"given priority in the first week of operations."
)
# 4 inline tags around ~31 text chars: density 31/(31+33) ~ 0.48 — fails
# binary_thresh (0.55) but clears rescue_thresh (0.30)
_HEADLINE = b"<font size=3><b>Shipping resumes on all routes</b></font><br>"


def test_heading_rescue_merges_into_run():
    html = _HEADLINE + b"\n" + _PARA
    spans = detect(tokenize(html), CFG)
    assert len(spans) == 1
    s = spans[0]
    # the rescued headline block opens the span
    assert s.first_block == 0 and s.last_block == 1
    assert html[s.start : s.start + 4] == b"Ship"


def test_heading_rescue_requires_adjacency():
    # a non-candidate link block between headline and content breaks it
    html = _HEADLINE + b"<div><a href='/x'>advert link here</a></div>" + _PARA
    spans = detect(tokenize(html), CFG)
    assert len(spans) == 1 and spans[0].first_block > 0


def test_heading_rescue_rejects_links():
    linked = b"<b><a href='/story'>Shipping resumes on all routes</a></b><br>"
    html = linked + _PARA
    spans = detect(tokenize(linked + _PARA), CFG)
    assert len(spans) == 1
    assert html[spans[0].start : spans[0].start + 4] == b"The "


def test_heading_rescue_rejects_boiler_even_at_zero_thresh():
    # score > 0 guard: a boiler block (score forced to 0.0) is never
    # rescued, even with rescue_thresh=0
    html = b"<nav>short nav text</nav>" + _PARA
    cfg = ExtractConfig(rescue_thresh=0.0)
    spans = detect(tokenize(html), cfg)
    assert len(spans) == 1
    assert html[spans[0].start : spans[0].start + 4] == b"The "


def test_heading_rescue_rejects_long_blocks():
    long_head = (
        b"<font size=3><b>" + b"word " * 30 + b"tail</b></font><br>"
    )  # > rescue_max_chars of text
    html = long_head + _PARA
    spans = detect(tokenize(html), CFG)
    # the long block scores high enough to be a base candidate itself
    # OR is excluded by length — either way rescue must not fire on a
    # >80-char block; pin with a tag-heavy variant that fails base
    heavy = (
        b"<font size=3><b><i><u><em><span><s><q><tt>"
        + b"word " * 30
        + b"tail</tt></q></s></span></em></u></i></b></font><br>"
    )
    html2 = heavy + _PARA
    spans2 = detect(tokenize(html2), CFG)
    assert len(spans2) == 1
    assert html2[spans2[0].start : spans2[0].start + 4] == b"The "


def test_heading_rescue_no_chaining():
    # two stacked sub-threshold headlines: only the one adjacent to the
    # base candidate is rescued (i+1 tests BASE candidacy)
    h1 = b"<font size=4><b>Outer section headline text</b></font><br>"
    h2 = b"<font size=3><b>Inner story headline text</b></font><br>"
    html = h1 + h2 + _PARA
    spans = detect(tokenize(html), CFG)
    assert len(spans) == 1
    assert html[spans[0].start : spans[0].start + 5] == b"Inner"


def test_heading_rescue_disabled_by_config():
    html = _HEADLINE + b"\n" + _PARA
    cfg = ExtractConfig(rescue_max_chars=0)
    spans = detect(tokenize(html), cfg)
    assert len(spans) == 1
    assert html[spans[0].start : spans[0].start + 4] == b"The "


def test_heading_rescue_legacy_caller_without_link_skips():
    from webx.detect import merge_runs_table

    html = _HEADLINE + b"\n" + _PARA
    blocks = tokenize(html)
    n = len(blocks)
    tlen = np.fromiter((b.tlen for b in blocks), dtype=np.int64, count=n)
    start = np.fromiter((b.start for b in blocks), dtype=np.int64, count=n)
    end = np.fromiter((b.end for b in blocks), dtype=np.int64, count=n)
    heading = np.fromiter((b.heading for b in blocks), dtype=bool, count=n)
    link = np.fromiter((b.link_tlen for b in blocks), dtype=np.int64, count=n)
    tags = np.fromiter((b.tag_cnt for b in blocks), dtype=np.int64, count=n)
    boiler = np.fromiter((b.boiler for b in blocks), dtype=bool, count=n)
    scores = block_scores(tlen, link, tags, boiler, CFG)
    with_link = merge_runs_table(start, end, tlen, heading, scores, CFG, link=link)
    without = merge_runs_table(start, end, tlen, heading, scores, CFG)
    assert with_link[0].first_block == 0
    assert without[0].first_block == 1
