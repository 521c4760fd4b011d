"""HTML data-table extraction (webx/tables.py): the frozen stack-machine
semantics, the data/layout classifier, and the Spark lane."""

from __future__ import annotations

import pandas as pd
import pytest

from webx.config import ExtractConfig
from webx.tables import parse_tables, tables_batch

CS = "utf-8"


def _cells(html: bytes):
    return [t["rows"] for t in parse_tables(html, CS)]


SPEC = (
    b'<table class="specs"><caption>Facts</caption>'
    b"<tr><th>Property</th><th>Value</th></tr>"
    b"<tr><td>Identifier</td><td>Doc 7</td></tr></table>"
)


def test_spec_table_extracted_with_caption():
    t = parse_tables(SPEC, CS)
    assert len(t) == 1
    assert t[0]["caption"] == "Facts"
    assert t[0]["rows"] == [
        [(True, "Property"), (True, "Value")],
        [(False, "Identifier"), (False, "Doc 7")],
    ]


def test_link_farm_rejected():
    html = (
        b'<table><tr><td><a href="/a">Archive pages</a></td>'
        b'<td><a href="/b">Subscribe now</a></td></tr>'
        b'<tr><td><a href="/c">Contact form</a></td>'
        b'<td><a href="/d">About this site</a></td></tr></table>'
    )
    assert parse_tables(html, CS) == []


def test_single_cell_prose_wrapper_rejected():
    prose = b"A long paragraph living in a layout wrapper cell, " * 4
    html = b"<table><tr><td><p>" + prose + b"</p></td></tr></table>"
    assert parse_tables(html, CS) == []


def test_th_overrides_layout_signals():
    # single row, but the <th> marks it as a data header
    html = b"<table><tr><th>K</th><td>v</td></tr></table>"
    assert _cells(html) == [[[(True, "K"), (False, "v")]]]


def test_nested_table_text_stays_inner():
    html = (
        b"<table><tr><th>Outer</th><td>before "
        b"<table><tr><th>IK</th><td>iv</td></tr></table>"
        b" after</td></tr></table>"
    )
    tabs = parse_tables(html, CS)
    assert len(tabs) == 2
    # document order of the <table> open tag: outer first
    assert tabs[0]["rows"] == [[(True, "Outer"), (False, "before after")]]
    assert tabs[1]["rows"] == [[(True, "IK"), (False, "iv")]]


def test_implicit_row_and_unclosed_eof():
    # td without tr opens an implicit row; EOF commits everything
    html = b"<table><th>H</th><td>unclosed at eof"
    assert _cells(html) == [[[(True, "H"), (False, "unclosed at eof")]]]


def test_empty_rows_skipped():
    html = (
        b"<table><tr></tr><tr><th>K</th><td>v</td></tr>"
        b"<tr>   </tr><tr><td>a</td><td>b</td></tr></table>"
    )
    assert _cells(html) == [
        [[(True, "K"), (False, "v")], [(False, "a"), (False, "b")]]
    ]


def test_comment_hides_structural_tags():
    html = (
        b"<table><tr><th>K</th><td>v1 <!-- </table><tr><td>ghost --> v2"
        b"</td></tr></table>"
    )
    assert _cells(html) == [[[(True, "K"), (False, "v1 v2")]]]


def test_script_island_hides_table():
    html = (
        b"<script>var t = '<table><tr><td>fake</td></tr></table>';</script>"
        b"<table><tr><th>K</th><td>real</td></tr></table>"
    )
    assert _cells(html) == [[[(True, "K"), (False, "real")]]]


def test_self_closed_table_is_noop():
    html = b"<table/><table><tr><th>K</th><td>v</td></tr></table>"
    tabs = parse_tables(html, CS)
    assert len(tabs) == 1 and tabs[0]["rows"][0][0] == (True, "K")


def test_tbody_commits_rows():
    html = (
        b"<table><thead><tr><th>A</th><th>B</th></tr></thead>"
        b"<tbody><tr><td>1</td><td>2</td></tbody></table>"
    )
    assert _cells(html) == [
        [[(True, "A"), (True, "B")], [(False, "1"), (False, "2")]]
    ]


def test_quoted_gt_in_attr():
    html = b'<table><tr><th title="a>b">K</th><td>v</td></tr></table>'
    assert _cells(html) == [[[(True, "K"), (False, "v")]]]


def test_inline_markup_and_entities_in_cells():
    html = (
        b"<table><tr><th>K&amp;Q</th>"
        b"<td><b>bold</b> &lt;raw&gt;<br>line two</td></tr></table>"
    )
    assert _cells(html) == [[[(True, "K&Q"), (False, "bold <raw> line two")]]]


def test_only_first_caption_kept():
    html = (
        b"<table><caption>First</caption><caption>Second</caption>"
        b"<tr><th>K</th><td>v</td></tr></table>"
    )
    assert parse_tables(html, CS)[0]["caption"] == "First"


def test_charset_decodes_cells():
    html = (
        b'<html><head><meta charset="iso-8859-1"></head><body>'
        b"<table><tr><th>Caf\xe9</th><td>d\xe9tail</td></tr></table>"
    )
    pdf = tables_batch(
        pd.DataFrame({"url": ["u"], "html": [html]}), ExtractConfig()
    )
    assert pdf["cell"].tolist() == ["Caf\xe9", "d\xe9tail"]
    assert pdf["header"].tolist() == [True, False]
    # declared utf-8 but holding latin-1 bytes: cells decode with the
    # effective codec of the document front, as the flagship text does
    misdeclared = html.replace(b"iso-8859-1", b"utf-8")
    pdf = tables_batch(
        pd.DataFrame({"url": ["u"], "html": [misdeclared]}), ExtractConfig()
    )
    assert pdf["cell"].tolist() == ["Caf\xe9", "d\xe9tail"]


def test_batch_emits_indices_in_order():
    html = SPEC + b"<table><tr><th>X</th><td>y</td></tr></table>"
    pdf = tables_batch(
        pd.DataFrame({"url": ["u"], "html": [html]}), ExtractConfig()
    )
    assert pdf["table_idx"].tolist() == [0, 0, 0, 0, 1, 1]
    assert pdf["row_idx"].tolist() == [0, 0, 1, 1, 0, 0]
    assert pdf["col_idx"].tolist() == [0, 1, 0, 1, 0, 1]
    assert pdf[pdf["table_idx"] == 1]["caption"].tolist() == ["", ""]


def test_empty_and_null_html_rows_skip():
    pdf = tables_batch(
        pd.DataFrame({"url": ["a", "b"], "html": [None, b""]}), ExtractConfig()
    )
    assert len(pdf) == 0


def test_spark_e2e_plan_and_counts(spark):
    from pyspark.sql import functions as F

    from webx import synth
    from webx.tables import run_table_extraction

    pages = synth.synth_pages_tables(spark, "/root/testdata/sf0.001")
    out = run_table_extraction(pages, ExtractConfig())
    n_docs = pages.count()
    assert out.count() == 8 * n_docs
    # narrow plan: no exchange between scan and mapInPandas
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert out.filter(F.col("header") & (F.col("row_idx") != 0)).count() == 0


# ---- totality + corpus robustness -----------------------------------

import os

from hypothesis import given, settings, strategies as st

_FRAGS = st.sampled_from(
    [
        b"<table>", b"</table>", b"<tr>", b"</tr>", b"<td>", b"</td>",
        b"<th>", b"</th>", b"<thead>", b"<tbody>", b"</tbody>", b"<tfoot>",
        b"<caption>", b"</caption>", b"<table/>", b"<td/>", b"<TR>",
        b"<table class='x'>", b"<td colspan=2>", b"<th title='a>b'>",
        b"<!--", b"-->", b"<!-- </table> -->", b"<![CDATA[", b"]]>",
        b"<script>", b"</script>", b"<pre>", b"</pre>", b"<a href='/x'>",
        b"</a>", b"<b>", b"</b>", b"<p>", b"</p>", b"&amp;", b"&lt;",
        b"cell text", b"x", b" ", b"\n", b"\t", b"\xc3\xa9", b"\x00",
        b"<", b">", b"</", b"/>", b"'", b"\"",
    ]
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_FRAGS, max_size=60))
def test_parse_tables_total_on_fragment_soup(parts):
    """The parser must terminate and produce well-formed output on any
    fragment soup: ordered non-negative indices, header flags booleans,
    strings decodable (they already are str)."""
    html = b"".join(parts)
    for t in parse_tables(html, CS):
        assert t["rows"]
        for row in t["rows"]:
            assert row
            for is_th, cell in row:
                assert isinstance(is_th, bool) and isinstance(cell, str)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_parse_tables_total_on_raw_bytes(html):
    parse_tables(html, CS)  # must not raise, hang, or loop


def test_parse_tables_over_gnarly_corpus():
    """Every committed messy specimen parses without error; emitted
    tables are well-formed. Fixture 42's newsletter layout tables must
    all be classifier-rejected (prose/link layout, no th)."""
    fixdir = os.path.join(os.path.dirname(__file__), "fixtures", "gnarly")
    for f in sorted(os.listdir(fixdir)):
        if not f.endswith(".html"):
            continue
        with open(os.path.join(fixdir, f), "rb") as fh:
            tabs = parse_tables(fh.read(), CS)
        for t in tabs:
            assert t["rows"] and all(t["rows"])
        if f.startswith("42_"):
            assert tabs == []
        if f.startswith("46_"):  # product page: the spec table
            assert len(tabs) == 1 and tabs[0]["caption"] == "Specifications"
        if f.startswith("47_"):  # wiki infobox
            assert len(tabs) == 1 and tabs[0]["rows"][0][0] == (
                True, "Country",
            )


def test_empty_first_caption_blocks_second():
    # r5 ADVICE fix: an empty first <caption></caption> consumes the
    # table's caption slot — a later second caption is NOT captured
    html = (
        b"<table><caption></caption><caption>Late</caption>"
        b"<tr><th>K</th><td>v</td></tr></table>"
    )
    assert parse_tables(html, CS)[0]["caption"] == ""
