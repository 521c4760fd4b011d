"""Multimodal plumbing, and stream/batch parity of the stateless lanes.

The extraction, table and mixed-capture lanes are stateless Arrow maps,
so each one runs unchanged on a ``spark.readStream`` frame; the parity
tests drain a file stream through the lane and compare with the batch
run on the same input."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from webx import synth
from webx.config import ExtractConfig
from webx.media import media_features, sample_frames, synth_media
from webx.pipeline import run_extraction

CFG = ExtractConfig()


def test_media_features_deterministic(spark):
    media = synth_media(spark, SF_SMALL)
    feats = media_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    docs = {r["doc_id"]: r["text"] for r in synth.load_documents(spark, SF_SMALL).collect()}
    assert len(rows) == len(docs)
    # spot-check byte arithmetic against pure python
    for did in list(docs)[:5]:
        raw = (docs[did] + "|" + docs[did]).encode("utf-8")
        r = rows[did]
        assert r["n_bytes"] == len(raw)
        assert r["byte_sum"] == sum(raw)
        assert len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-9


def test_media_features_schema_stable(spark):
    media = synth_media(spark, SF_SMALL).limit(10)
    feats = media_features(media)
    assert [f.name for f in feats.schema.fields] == [
        "media_id", "kind", "n_bytes", "byte_sum", "feature",
    ]


def test_sample_frames(spark):
    media = synth_media(spark, SF_SMALL)
    frames = sample_frames(media, every_n=2)
    vids = media.filter(F.col("kind") == "video").select(
        "media_id", F.col("meta.n_frames").alias("nf"), F.octet_length("payload").alias("nb")
    )
    j = (
        frames.groupBy("media_id").agg(F.count("*").alias("got"))
        .join(vids, "media_id")
    )
    # every_n=2 over nf frames -> ceil(nf/2) sampled
    bad = j.filter(F.col("got") != F.ceil(F.col("nf") / 2)).count()
    assert bad == 0
    assert frames.filter(F.octet_length("frame") == 0).count() == 0


def test_streaming_matches_batch_and_is_incremental(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = synth.synth_pages(spark, SF_SMALL)
    first = pages.filter(F.col("url").endswith("0"))
    rest = pages.filter(~F.col("url").endswith("0"))
    first.write.mode("append").parquet(inp)

    def drain(timeout):
        # file source + checkpoint: exactly-once per input file, so a
        # re-run processes only the files added since the last drain
        stream = run_extraction(spark.readStream.schema(pages.schema).parquet(inp), CFG)
        q = (
            stream.select("url", "text", "conf", "status")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout)

    drain(120)
    got1 = spark.read.parquet(out)
    n1 = got1.count()
    assert n1 == first.count()

    # append more input files; second drain processes ONLY the new files
    rest.write.mode("append").parquet(inp)
    drain(180)
    final = spark.read.parquet(out)
    assert final.count() == 500

    # byte-identical to the batch pipeline
    batch = run_extraction(pages, CFG).select("url", "text")
    stream = final.select("url", "text")
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_sessionize_batch(spark):
    from datetime import datetime as dt

    from webx.events import sessionize

    rows = [
        (1, dt(2026, 1, 1, 10, 0), 100, "a", 1.25, ""),
        (2, dt(2026, 1, 1, 10, 10), 100, "a", 2.50, ""),   # same session (10 min)
        (3, dt(2026, 1, 1, 11, 0), 100, "a", 0.75, ""),    # new session (50 min gap)
        (4, dt(2026, 1, 1, 10, 5), 200, "b", 9.99, ""),    # other user
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (r["user_id"], r["session_id"]): r
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    assert set(got) == {(100, 1), (100, 2), (200, 1)}
    s1 = got[(100, 1)]
    assert s1["n_events"] == 2 and s1["sum_cents"] == 125 + 250
    assert s1["session_start"].minute == 0 and s1["session_end"].minute == 10
    assert got[(100, 2)]["n_events"] == 1
    assert got[(200, 1)]["sum_cents"] == 999


def test_table_extraction_stream_batch_parity(spark, tmp_path):
    """The exact table lane is stateless mapInPandas, so it composes
    with Structured Streaming unchanged: draining a file stream through
    run_table_extraction yields exactly the batch lane's rows."""
    from webx.tables import run_table_extraction

    pages = synth.synth_pages_tables(spark, SF_SMALL)
    src = str(tmp_path / "pages")
    out = str(tmp_path / "cells")
    ckpt = str(tmp_path / "ckpt")
    pages.write.parquet(src)
    q = (
        run_table_extraction(spark.readStream.schema(pages.schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    batch = run_table_extraction(spark.read.parquet(src))
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_extract_mixed_stream_parity(spark, tmp_path):
    """The mixed-corpus router on a stream: an AvailableNow drain of a
    (url, payload) parquet dir == the batch extract_mixed, exceptAll
    both ways."""
    from webx.media import png_bytes
    from webx.pdf import write_pdf, write_pdf_encrypted
    from webx.route import extract_mixed

    html = (
        b"<!DOCTYPE html><html><body><article><p>Prose long enough to "
        b"score as a real candidate block for the detector here."
        b"</p></article></body></html>"
    )
    rows = [
        ("u0", bytearray(html)),
        ("u1", bytearray(write_pdf("Doc 1", "Pdf body."))),
        ("u2", bytearray(write_pdf_encrypted("Doc 2", "Enc body.", "aesv2"))),
        ("u3", bytearray(png_bytes(101, 55))),
        ("u4", bytearray(b"plain words only")),
    ]
    src = str(tmp_path / "captures")
    spark.createDataFrame(rows, "url string, payload binary").write.parquet(src)
    batch = extract_mixed(spark.read.parquet(src)).collect()

    stream_in = (
        spark.readStream.schema("url string, payload binary").parquet(src)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        extract_mixed(stream_in)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out_dir)
    b_df = spark.createDataFrame(batch, streamed.schema)
    assert streamed.exceptAll(b_df).count() == 0
    assert b_df.exceptAll(streamed).count() == 0
    kinds = {r["url"]: r["kind"] for r in streamed.collect()}
    assert kinds == {"u0": "html", "u1": "pdf", "u2": "pdf",
                     "u3": "image", "u4": "other"}
