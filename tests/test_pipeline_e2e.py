"""End-to-end byte-identity goldens — the generate-input-from-expected-output
system test (reference tests/st/test_online_infer.py:18-75 applied to HTML):
pages are synthesized from the driver's documents table, so the expected
extracted text is a closed-form function of that table."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from webx import synth
from webx.config import ExtractConfig
from webx.pipeline import explode_spans, run_detect, run_extraction

CFG = ExtractConfig()


def expected_flagship(spark):
    """(url, expected) from the documents table, computed JVM-side."""
    docs = synth.load_documents(spark, SF_SMALL)
    did = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    norm = F.trim(F.regexp_replace("text", synth.WS_CLASS, " "))
    url = F.concat(
        F.lit("https://h"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    return docs.select(url.alias("url"), F.concat(did, F.lit("\n"), norm).alias("expected"))


def test_flagship_byte_identity(spark):
    out = run_extraction(synth.synth_pages(spark, SF_SMALL), CFG).select("url", "text")
    exp = expected_flagship(spark)
    joined = out.join(exp, "url", "full_outer")
    n = joined.count()
    assert n == 500
    mismatches = joined.filter(
        F.col("text").isNull() | F.col("expected").isNull() | (F.col("text") != F.col("expected"))
    ).count()
    assert mismatches == 0  # 100% byte-identical


def test_partition_count_independence(spark):
    """Output must not depend on physical partitioning (SURVEY §5 scale test)."""
    pages = synth.synth_pages(spark, SF_SMALL)
    base = run_extraction(pages, CFG).select("url", "text")
    repart = run_extraction(
        pages, ExtractConfig(repartition=13, size_gears=True)
    ).select("url", "text")
    assert base.exceptAll(repart).count() == 0
    assert repart.exceptAll(base).count() == 0


def test_status_and_meta(spark):
    out = run_extraction(synth.synth_pages(spark, SF_SMALL), CFG)
    rows = out.select("status", "meta.charset", "meta.truncated", "conf").collect()
    assert all(r["status"] == "ok" for r in rows)
    assert all(r["charset"] == "utf-8" for r in rows)
    assert not any(r["truncated"] for r in rows)
    assert all(r["conf"] >= CFG.drop_score for r in rows)


def test_latin1_pages(spark):
    out = run_extraction(synth.synth_pages_latin1(spark, SF_SMALL), CFG)
    rows = out.select("text", "meta.charset").collect()
    # WHATWG registry: the iso-8859-1 label resolves to windows-1252
    assert all(r["charset"] == "cp1252" for r in rows)
    assert all(r["text"].endswith(" café") for r in rows)


def test_boilerplate_only_pages_empty(spark):
    out = run_extraction(synth.synth_pages_edge(spark, SF_SMALL), CFG)
    empty = out.filter(F.size("spans") == 0)
    urls = [r["url"] for r in empty.select("url").collect()]
    assert len(urls) == 100  # doc_id % 5 == 0
    assert all(int(u.rsplit("/", 1)[1]) % 5 == 0 for u in urls)
    assert empty.filter(F.col("text") != "").count() == 0


def test_span_invariants(spark):
    """validate_det_res invariants: sorted, non-overlapping, in-bounds."""
    ex = run_extraction(synth.synth_pages_multi(spark, SF_SMALL), CFG)
    spans = explode_spans(ex)
    n_bytes = run_extraction(
        synth.synth_pages_multi(spark, SF_SMALL), CFG
    ).select("url", F.col("meta.html_bytes").alias("nb"))
    j = spans.join(n_bytes, "url")
    assert j.filter((F.col("start") < 0) | (F.col("end") > F.col("nb"))).count() == 0
    assert j.filter(F.col("start") >= F.col("end")).count() == 0
    # non-overlap + sorted: next span's start >= this span's end
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("span_idx")
    lead_start = F.lead("start").over(w)
    assert j.withColumn("ns", lead_start).filter(F.col("ns") < F.col("end")).count() == 0


def test_truncation_policy(spark):
    """DetResize limit_type=max analog: giant page -> truncated flag."""
    pages = synth.synth_pages(spark, SF_SMALL).limit(5)
    cfg = ExtractConfig(limit_side_len=200)
    out = run_extraction(pages, cfg)
    rows = out.select("meta.truncated", "meta.html_bytes").collect()
    assert all(r["truncated"] for r in rows)
    assert all(r["html_bytes"] > 200 for r in rows)  # meta records ORIGINAL size


def test_empty_html_row(spark):
    pdf = spark.createDataFrame(
        [("u1", None), ("u2", b""), ("u3", b"<p>Real content paragraph with enough text.</p>")],
        "url string, html binary",
    )
    out = run_extraction(pdf, CFG).orderBy("url").collect()
    assert [r["status"] for r in out] == ["empty", "empty", "ok"]
    assert out[2]["text"] == "Real content paragraph with enough text."


def test_detect_only_matches_fused(spark):
    """Stage-1 debug output must agree with the fused extractor's spans."""
    pages = synth.synth_pages(spark, SF_SMALL)
    det = run_detect(pages, CFG).select(
        "url", F.expr("transform(spans, s -> struct(s.start, s.end))").alias("se")
    )
    fused = run_extraction(pages, CFG).select(
        "url", F.expr("transform(spans, s -> struct(s.start, s.end))").alias("se")
    )
    assert det.exceptAll(fused).count() == 0


def test_passthrough_columns(spark):
    out = run_extraction(
        synth.synth_pages(spark, SF_SMALL), CFG, passthrough=("lang", "warc_ts")
    )
    assert "lang" in out.columns and "warc_ts" in out.columns
    assert out.filter(F.col("lang").isNull()).count() == 0


def test_unregistered_charset_label_counts_as_absent(spark):
    """A charset label outside the WHATWG registry is ignored, as a
    browser ignores it: a ``punycode`` page must not fail the batch and a
    ``unicode_escape`` page must not have its backslash escapes decoded.
    Each gets exactly the result of the same page under a label nothing
    knows (an undeclared page), and the good pages beside them are
    unchanged."""
    body = b"Caf\\xe9 au lait and a sentence long enough to score as text. " * 3

    def page(label):
        return (
            b'<html><head><meta charset="' + label + b'"></head><body>'
            b"<article><p>" + body + b"</p></article></body></html>"
        )

    good = synth.synth_pages(spark, SF_SMALL).select("url", "html")
    odd = spark.createDataFrame(
        [
            ("bad/puny", page(b"punycode")),
            ("bad/esc", page(b"unicode_escape")),
            ("ref/puny", page(b"x" * len(b"punycode"))),
            ("ref/esc", page(b"x" * len(b"unicode_escape"))),
        ],
        "url string, html binary",
    )
    got = {r["url"]: r for r in run_extraction(good.unionByName(odd), CFG).collect()}
    for kind in ("puny", "esc"):
        bad, ref = got[f"bad/{kind}"], got[f"ref/{kind}"]
        assert bad.asDict(recursive=True) | {"url": ""} == ref.asDict(recursive=True) | {"url": ""}
        assert bad["status"] == "ok" and bad["meta"]["charset"] == "utf-8"
    assert "Caf\\xe9 au lait" in got["bad/esc"]["text"]
    alone = run_extraction(good, CFG).collect()
    assert len(alone) == 500
    assert all(got[r["url"]] == r for r in alone)


def test_extract_job_size_gears_default_policy():
    """WARC input defaults size_gears ON (giant-page tail), columnar
    inputs OFF; explicit --size-gears/--no-size-gears always wins."""
    from jobs.extract import effective_size_gears, parse_args

    base = [
        "--output", "/tmp/o", "--checkpoint", "/tmp/c", "--input", "/tmp/i",
        "--run-id", "r1",
    ]
    assert effective_size_gears(
        parse_args(base + ["--input-format", "warc"])) is True
    assert effective_size_gears(
        parse_args(base + ["--input-format", "parquet"])) is False
    assert effective_size_gears(
        parse_args(base + ["--input-format", "warc", "--no-size-gears"])) is False
    assert effective_size_gears(
        parse_args(base + ["--input-format", "parquet", "--size-gears"])) is True
