"""Markdown lane tests — closed-form expectations from the frozen synth
template (generate-input-from-expected-output)."""

from __future__ import annotations

import os

import pandas as pd

from webx import synth
from webx.config import ExtractConfig
from webx.extract import extract_batch
from webx.markdown import render_markdown_batch, run_markdown

SF = "/root/testdata/sf0.001"


def test_flagship_markdown_closed_form(spark):
    pages = synth.synth_pages(spark, SF)
    got = {r.url: r for r in run_markdown(pages).collect()}
    exp = {
        r.url: f"# Doc {r.doc_id}\n\n{r.norm}"
        for r in synth.load_documents(spark, SF)
        .select(
            "doc_id",
            synth._url().alias("url"),
            synth._norm(synth.F.col("text")).alias("norm"),
        )
        .collect()
    }
    assert len(got) == len(exp)
    for url, md in exp.items():
        assert got[url].markdown == md
        assert got[url].n_headings == 1
        assert got[url].status == "ok"


def test_multispan_markdown_levels(spark):
    pages = synth.synth_pages_multi(spark, SF)
    got = {r.url: r for r in run_markdown(pages).collect()}
    docs = {
        r.url: r
        for r in synth.load_documents(spark, SF)
        .select(
            "doc_id",
            synth._url().alias("url"),
            synth._norm(synth.F.col("text")).alias("norm"),
        )
        .collect()
    }
    for url, d in docs.items():
        exp = f"# Doc {d.doc_id}\n\n{d.norm}\n\n## Notes\n\n{d.norm.upper()}"
        assert got[url].markdown == exp
        assert got[url].n_headings == 2


def test_empty_html(spark):
    df = spark.createDataFrame([("u", None), ("v", b"")], "url string, html binary")
    got = {r.url: r for r in run_markdown(df).collect()}
    assert got["u"].markdown == "" and got["u"].status == "empty"
    assert got["v"].markdown == "" and got["v"].status == "empty"


def test_charset_front_matches_flagship():
    # the markdown lane takes its bytes, codec and status from the same
    # document front as the flagship: a late charset declaration decodes
    # with the fallback codec (fixture 40), a UTF-16 page is transcoded
    # before tokenizing, and status is the flagship's
    fix = os.path.join(
        os.path.dirname(__file__), "fixtures", "gnarly", "40_late_charset_decl.html"
    )
    with open(fix, "rb") as fh:
        late = fh.read()
    utf16 = b"\xff\xfe" + (
        "<html><body><article><h1>Grüße aus Köln</h1><p>Die Straßenbahn "
        "fährt heute pünktlich durch die Altstadt und über die Brücke zum "
        "Dom, wo viele Menschen warten.</p></article></body></html>"
    ).encode("utf-16-le")
    df = pd.DataFrame({"url": ["late", "utf16"], "html": [late, utf16]})
    cfg = ExtractConfig()
    md = render_markdown_batch(df, cfg)
    flag = extract_batch(df, cfg)
    assert md["status"].tolist() == flag["status"].tolist()
    assert flag["status"].tolist() == ["charset_fallback", "ok"]
    for m, t in zip(md["markdown"].tolist(), flag["text"].tolist()):
        assert "�" not in t and "�" not in m
    assert "\x93smart quotes\x94" in md["markdown"][0]
    assert md["markdown"][1].startswith("# Grüße aus Köln\n\nDie Straßenbahn")
