"""Mixed-corpus routed extraction (webx/route.py): magic-byte
classification, per-lane dispatch fidelity, and order preservation."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st

from webx.config import ExtractConfig
from webx.media import gif_bytes, jpeg_bytes, png_bytes, webp_bytes
from webx.pdf import write_pdf, write_pdf_encrypted
from webx.route import _routed_batch, classify_payload

CFG = ExtractConfig()

_HTML = (
    b"<!DOCTYPE html><html><body><article><p>A paragraph of ordinary "
    b"prose long enough to score as a candidate block in the detector."
    b"</p></article></body></html>"
)


def test_classify_payload():
    assert classify_payload(write_pdf("T", "B")) == "pdf"
    assert classify_payload(write_pdf_encrypted("T", "B", "aesv2")) == "pdf"
    assert classify_payload(png_bytes(2, 2)) == "image"
    assert classify_payload(gif_bytes(2, 2)) == "image"
    assert classify_payload(jpeg_bytes(2, 2)) == "image"
    assert classify_payload(webp_bytes(2, 2)) == "image"
    assert classify_payload(_HTML) == "html"
    assert classify_payload(b"  \n <html><p>x</p>") == "html"
    assert classify_payload(b"plain prose with no markup") == "other"
    assert classify_payload(b"") == "other"
    from tests.helpers import avif_bytes, bmp_bytes
    from webx.media import flac_bytes, mp4_bytes, wav_bytes

    assert classify_payload(wav_bytes(8000, 1)) == "audio"
    assert classify_payload(flac_bytes(8000, 1)) == "audio"
    assert classify_payload(mp4_bytes(64, 48, 100)) == "video"
    assert classify_payload(avif_bytes(8, 8)) == "image"
    assert classify_payload(bmp_bytes(8, 8)) == "image"
    # mp3 deliberately NOT magic-routed (frame sync too weak a signature)
    from webx.media import mp3_bytes

    assert classify_payload(mp3_bytes(0, True)) == "other"


def test_routed_batch_matches_lane_kernels():
    from webx.extract import extract_batch
    from webx.pdf import parse_pdf

    rows = {
        "url": ["h", "p", "i", "o", "pe"],
        "payload": [
            _HTML,
            write_pdf("Doc 1", "Pdf body text."),
            png_bytes(77, 33),
            b"just words",
            write_pdf_encrypted("Doc 2", "Secret body.", "rc4"),
        ],
    }
    out = _routed_batch(pd.DataFrame(rows), CFG)
    assert out["kind"].tolist() == ["html", "pdf", "image", "other", "pdf"]
    flag = extract_batch(
        pd.DataFrame({"url": ["h"], "html": [_HTML]}), CFG
    ).iloc[0]["text"]
    assert out.iloc[0]["text"] == flag  # html lane == flagship
    assert out.iloc[1]["text"] == parse_pdf(rows["payload"][1])[0]
    assert (out.iloc[2]["width"], out.iloc[2]["height"]) == (77, 33)
    assert out.iloc[3]["status"] == "skipped" and out.iloc[3]["text"] is None
    assert out.iloc[4]["text"] == "Doc 2\nSecret body."


def test_broken_payloads_fail_soft_per_row():
    rows = {
        "url": ["bad-pdf", "bad-img", "good"],
        "payload": [b"%PDF-1.4 truncated", png_bytes(5, 5)[:12], _HTML],
    }
    out = _routed_batch(pd.DataFrame(rows), CFG)
    assert out.iloc[0]["status"] == "unsupported"
    assert out.iloc[1]["status"] == "unsupported"
    assert out.iloc[2]["status"] == "ok"  # neighbors unaffected


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=100))
def test_classify_total(b):
    assert classify_payload(b) in (
        "html", "pdf", "image", "audio", "video", "other"
    )


def test_routed_checkpointed_job_resumes(spark, tmp_path):
    """--routed lineage integration: a killed routed run resumes at
    partition granularity and the final output equals an uninterrupted
    run (the HTML/PDF lanes' kill/resume contract on the mixed lane)."""
    import pyspark.sql.functions as F

    from webx.lineage import CheckpointStore, run_checkpointed_extraction
    from webx.media import png_bytes, wav_bytes
    from webx.pdf import write_pdf
    from webx.route import checkpointed_routed_extract_fn

    rows = []
    for i in range(40):
        k = i % 4
        if k == 0:
            payload = (
                b"<!DOCTYPE html><html><body><article><p>Prose number %d "
                b"long enough to survive candidate scoring in the "
                b"detector.</p></article></body></html>" % i
            )
        elif k == 1:
            payload = write_pdf(f"Doc {i}", f"Pdf body {i}.")
        elif k == 2:
            payload = png_bytes(10 + i, 20 + i)
        else:
            payload = wav_bytes(8000 + i, 1)
        rows.append((f"u{i}", bytearray(payload)))
    pages = spark.createDataFrame(rows, "url string, html binary")

    def run(outdir, ckptdir, max_chunks=None):
        return run_checkpointed_extraction(
            spark, pages, str(tmp_path / outdir),
            CheckpointStore(str(tmp_path / ckptdir)),
            run_id="r", snapshot_id="s", n_partitions=8, chunk_size=2,
            max_chunks=max_chunks, extract_fn=checkpointed_routed_extract_fn,
        )

    run("full", "ck_full")
    done_full = spark.read.parquet(str(tmp_path / "full"))
    # killed after 2 chunks, then resumed
    run("part", "ck_part", max_chunks=2)
    run("part", "ck_part")
    done_part = spark.read.parquet(str(tmp_path / "part"))
    a = done_full.drop("part_id") if "part_id" in done_full.columns else done_full
    b = done_part.drop("part_id") if "part_id" in done_part.columns else done_part
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    kinds = {r["url"]: r["kind"] for r in done_full.collect()}
    assert kinds["u0"] == "html" and kinds["u1"] == "pdf"
    assert kinds["u2"] == "image" and kinds["u3"] == "audio"
    nb = {r["url"]: r["html_bytes"] for r in done_full.collect()}
    assert nb["u1"] == len(write_pdf("Doc 1", "Pdf body 1."))
