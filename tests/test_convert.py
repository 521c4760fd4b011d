"""Format converters (webx/convert.py) and sentinel truncation
(webx/recognize.py) — the reference's dataset_converters registry and
attention <STOP> policy recast."""

from __future__ import annotations

import base64
import json

import pytest
from pyspark.sql import functions as F

from webx.convert import convert
from webx.recognize import truncate_at_sentinel


def test_unknown_format_lists_supported(spark):
    with pytest.raises(ValueError, match="csv_docs.*det_labels|not supported"):
        convert(spark, "nope", "/tmp/x")


def test_jsonl_pages_roundtrip(spark, tmp_path):
    html = b"<html><body>hi</body></html>"
    rec = {
        "url": "https://a.example.com/1",
        "ts": "2024-01-01 00:00:00",
        "html_b64": base64.b64encode(html).decode(),
    }
    p = tmp_path / "pages.jsonl"
    p.write_text(json.dumps(rec) + "\n")
    row = convert(spark, "jsonl_pages", str(p)).first()
    assert row["url"] == rec["url"]
    assert bytes(row["html"]) == html
    assert row["warc_ts"] is not None


def test_csv_docs_roundtrip(spark, tmp_path):
    p = tmp_path / "docs.csv"
    p.write_text("doc_id,lang,text\n7,en,hello world\n8,de,hallo welt\n")
    rows = convert(spark, "csv_docs", str(p)).orderBy("doc_id").collect()
    assert [(r["doc_id"], r["lang"], r["text"]) for r in rows] == [
        (7, "en", "hello world"),
        (8, "de", "hallo welt"),
    ]
    assert dict(convert(spark, "csv_docs", str(p)).dtypes)["doc_id"] == "bigint"


def test_det_labels_roundtrip(spark, tmp_path):
    spans = [{"start": 0, "end": 5, "kind": "content"}]
    p = tmp_path / "labels.txt"
    p.write_text(f"https://a/1\t{json.dumps(spans)}\n")
    row = convert(spark, "det_labels", str(p)).first()
    assert row["url"] == "https://a/1"
    assert [(s["start"], s["end"], s["kind"]) for s in row["spans"]] == [
        (0, 5, "content")
    ]


def test_warc_converter_delegates(spark, tmp_path):
    from datetime import datetime, timezone

    from webx.sources import write_warc

    p = tmp_path / "a.warc"
    p.write_bytes(
        write_warc(
            [("https://w/1", datetime(2024, 1, 1, tzinfo=timezone.utc), b"<p>x</p>")]
        )
    )
    assert convert(spark, "warc", str(p)).count() == 1


def test_sentinel_truncation_reference_policy(spark):
    df = spark.createDataFrame(
        [("a", "keep this. drop that. and this"), ("b", "no sentinel here")],
        "k string, text string",
    )
    rows = {
        r["k"]: r["out"]
        for r in df.select(
            "k", truncate_at_sentinel(F.col("text"), ". ").alias("out")
        ).collect()
    }
    # first occurrence truncates; MISSING sentinel decodes to EMPTY
    assert rows == {"a": "keep this", "b": ""}


def test_det_labels_malformed_line_fails_loudly(spark, tmp_path):
    import pytest as _pt

    p = tmp_path / "bad.txt"
    p.write_text("https://a/1 no tab here\n")
    with _pt.raises(Exception, match="malformed line"):
        convert(spark, "det_labels", str(p)).collect()


def test_config_preset_registry():
    import pytest as _pt

    from webx.config import PRESETS, ExtractConfig

    assert sorted(PRESETS) == ["crawl", "default", "recall", "strict"]
    assert PRESETS["default"] == ExtractConfig()
    assert PRESETS["strict"].drop_score == 0.7
    assert ExtractConfig.from_dict({"box_thresh": 0.9}).box_thresh == 0.9
    with _pt.raises(ValueError, match="unknown config keys"):
        ExtractConfig.from_dict({"nope": 1})


def test_bulk_arrays_roundtrip_order(spark, tmp_path):
    """SynthText-analog parallel-array container: per-sample rows come
    back in the container's (shard, index) order with names[i] ↔
    texts[i] pairing intact."""
    from pyspark.sql import functions as F

    from webx.convert import convert

    rows = [
        (0, ["u0", "u2"], ["t0", "t2"]),
        (1, ["u1"], ["t1"]),
        (2, [], []),  # empty shard: contributes nothing
    ]
    p = str(tmp_path / "bulk.parquet")
    spark.createDataFrame(
        rows, "shard_id int, names array<string>, texts array<string>"
    ).write.parquet(p)
    out = convert(spark, "bulk_arrays", p).orderBy("shard_id", "idx")
    assert [tuple(r) for r in out.collect()] == [
        (0, 0, "u0", "t0"),
        (0, 1, "u2", "t2"),
        (1, 0, "u1", "t1"),
    ]


def test_bulk_arrays_length_mismatch_fails_loudly(spark, tmp_path):
    import pytest as _pt

    from webx.convert import convert

    p = str(tmp_path / "bad.parquet")
    spark.createDataFrame(
        [(7, ["a", "b"], ["only one"])],
        "shard_id int, names array<string>, texts array<string>",
    ).write.parquet(p)
    with _pt.raises(Exception, match="parallel arrays disagree"):
        convert(spark, "bulk_arrays", p).collect()
