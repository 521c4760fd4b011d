from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from webx.lineage import latest_capture, snapshot_diff
from webx.urls import filter_blocked_hosts


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_latest_capture_keeps_newest(spark):
    rows = [
        ("https://a.com/1", _ts("2024-01-01T00:00:00"), "v0", "en"),
        ("https://a.com/1", _ts("2024-03-01T00:00:00"), "v2", "en"),
        ("https://a.com/1", _ts("2024-02-01T00:00:00"), "v1", "en"),
        ("https://b.com/2", _ts("2024-01-05T00:00:00"), "only", "de"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, lang string"
    )
    got = {r["url"]: r for r in latest_capture(pages).collect()}
    assert len(got) == 2
    assert got["https://a.com/1"]["text"] == "v2"
    assert got["https://b.com/2"]["text"] == "only"
    # schema preserved: same columns, key first
    assert set(latest_capture(pages).columns) == set(pages.columns)


def test_latest_capture_tie_break_deterministic(spark):
    t = _ts("2024-01-01T00:00:00")
    pages = spark.createDataFrame(
        [("u", t, "aaa"), ("u", t, "zzz")], "url string, warc_ts timestamp, text string"
    )
    for _ in range(3):
        assert latest_capture(pages).collect()[0]["text"] == "zzz"


def test_latest_capture_single_shuffle(spark):
    pages = spark.createDataFrame(
        [("u", _ts("2024-01-01T00:00:00"), "x")],
        "url string, warc_ts timestamp, text string",
    )
    plan = latest_capture(pages)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # one hash-agg shuffle, no window sort
    assert "Window" not in plan


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [("u1", "same"), ("u2", "before"), ("u3", "gone")], "url string, text string"
    )
    new = spark.createDataFrame(
        [("u1", "same"), ("u2", "after"), ("u4", "fresh")], "url string, text string"
    )
    got = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {
        "u1": "unchanged",
        "u2": "changed",
        "u3": "deleted",
        "u4": "added",
    }


def test_snapshot_diff_projects_before_join(spark):
    # the exchange must move only (key, fingerprint), not the wide page row
    old = spark.createDataFrame(
        [("u", "t", b"x" * 10, "en")], "url string, text string, html binary, lang string"
    )
    new = old
    plan = snapshot_diff(old, new)._jdf.queryExecution().analyzed().toString()
    assert "html" not in snapshot_diff(old, new).columns
    # optimized plan prunes html/lang below the join
    opt = snapshot_diff(old, new)._jdf.queryExecution().optimizedPlan().toString()
    assert "html" not in opt.split("Join")[0] or "html#" not in opt


def test_filter_blocked_hosts(spark):
    docs = spark.createDataFrame(
        [
            (1, "https://Bad.example.com/x"),
            (2, "https://good.example.com/y"),
            (3, "http://user@bad.example.com:80/z"),
        ],
        "doc_id long, url string",
    )
    block = spark.createDataFrame([("BAD.example.com",)], "host string")
    got = filter_blocked_hosts(docs, block)
    assert [r["doc_id"] for r in got.orderBy("doc_id").collect()] == [2]
    assert got.columns == ["doc_id", "url"]


def test_filter_blocked_hosts_is_broadcast(spark):
    docs = spark.createDataFrame([(1, "https://a.com/x")], "doc_id long, url string")
    block = spark.createDataFrame([("b.com",)], "host string")
    plan = (
        filter_blocked_hosts(docs, block)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_incremental_extract_matches_full_rerun(spark):
    from webx.config import ExtractConfig
    from webx.lineage import incremental_extract
    from webx.pipeline import run_extraction
    from webx import synth

    cfg = ExtractConfig()
    docs = synth.load_documents(spark, "/root/testdata/sf0.001")
    old_pages = synth.flagship_pages_from_docs(docs)
    base = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 1, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 10 == 7)
    new_pages = synth.flagship_pages_from_docs(base).unionByName(
        synth.flagship_pages_from_docs(added).withColumn(
            "url", F.concat(F.col("url"), F.lit("/new"))
        )
    )
    prev = run_extraction(old_pages, cfg)
    result, diff = incremental_extract(old_pages, new_pages, prev, cfg)

    full = run_extraction(new_pages, cfg).select("url", "text")
    inc = result.select("url", "text")
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0

    # the funnel: only added+changed urls were re-extracted
    counts = {r["status"]: r["n"] for r in
              diff.groupBy("status").agg(F.count("*").alias("n")).collect()}
    n = docs.count()
    assert counts["deleted"] == docs.filter(F.col("doc_id") % 5 == 0).count()
    assert counts["added"] == added.count()
    assert counts["changed"] == base.filter(F.col("doc_id") % 5 == 1).count()
    assert counts["unchanged"] == n - counts["deleted"] - counts["changed"]


def _page(spark, html_bytes):
    return spark.createDataFrame([("u", html_bytes)], "url string, html binary")


def test_robots_flags_variants(spark):
    from webx.urls import robots_flags

    cases = [
        (b'<head><meta name="robots" content="noindex, nofollow"></head>', (True, True, True)),
        (b"<head><meta content='INDEX, NOFOLLOW' name='ROBOTS'></head>", (True, False, True)),
        (b'<head><meta name="robots" content="all"></head>', (True, False, False)),
        (b"<head><title>x</title></head>", (False, False, False)),
        # name must be exactly robots (quoted), not a prefix
        (b'<head><meta name="robotsx" content="noindex"></head>', (False, False, False)),
        # noindex must be a whole token
        (b'<head><meta name="robots" content="nonoindexy"></head>', (True, False, False)),
        # malformed bytes elsewhere must not kill the decode
        (b'\xff\xfe junk <meta name="robots" content="noindex"> \xff', (True, True, False)),
    ]
    for html, (has, noidx, nofol) in cases:
        r = robots_flags(_page(spark, html)).collect()[0]
        got = (r["has_robots_meta"], r["robots_noindex"], r["robots_nofollow"])
        assert got == (has, noidx, nofol), (html, got)
    def drop_noindex(pages):
        return robots_flags(pages).filter(~F.col("robots_noindex")).select(*pages.columns)

    assert drop_noindex(_page(spark, cases[0][0])).count() == 0
    kept = drop_noindex(_page(spark, cases[2][0]))
    assert kept.count() == 1 and kept.columns == ["url", "html"]


def test_robots_flags_is_codegen_only(spark):
    from webx.urls import robots_flags

    plan = (
        robots_flags(_page(spark, b"<p>x</p>"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_page_metadata(spark):
    from webx.urls import page_metadata

    pages = spark.createDataFrame(
        [
            ("u1", '<html><head><meta charset="UTF-8"><title>Hello World</title></head>'.encode()),
            ("u2", "<head><meta http-equiv='Content-Type' content='text/html; charset=iso-8859-1'><title lang=en>T2</title></head>".encode("latin-1")),
            ("u3", b"<body>no head</body>"),
        ],
        "url string, html binary",
    )
    got = {r["url"]: r for r in page_metadata(pages).collect()}
    assert got["u1"]["page_title"] == "Hello World"
    assert got["u1"]["charset_decl"] == "utf-8"
    assert got["u2"]["page_title"] == "T2"
    assert got["u2"]["charset_decl"] == "iso-8859-1"
    assert got["u3"]["page_title"] == "" and got["u3"]["charset_decl"] == ""
    assert got["u3"]["html_bytes"] == 20


def test_page_metadata_charset_window_matches_sniffer(spark):
    # a declaration past the 1024-byte window is ignored by BOTH views
    from webx.charset import sniff_charset
    from webx.urls import page_metadata

    late = b"<html>" + b" " * 1100 + b'<meta charset="koi8-r">'
    assert sniff_charset(late) == "utf-8"  # default, not the late decl
    r = page_metadata(
        spark.createDataFrame([("u", late)], "url string, html binary")
    ).collect()[0]
    assert r["charset_decl"] == ""
