"""spark-submit --py-files packaging: the deployment path the north rule
names ("packaged for spark-submit --py-files") exercised for real.

The reference ships a deployment packaging step and smoke-runs the full
CLI pipeline in its system tests (tests/st/test_train_eval_dummy.py runs
tools/train.py as a subprocess); this is the analog for our submit
artifact. webx.zip is built once and `spark-submit --py-files webx.zip
jobs/extract.py` runs once (session fixtures `webx_zip` and
`submitted_extract` in conftest.py, shared with test_package_submit.py)
from a cwd where `webx` is NOT importable from the filesystem, so every
import — driver and executor side, including the C-kernel source
compiled from zip resources via importlib, webx/ctokenize.py:63 — must
come from the zip. The job's output must be byte-identical to the
in-process extraction over the same synth corpus, with one lineage row
per logical partition. Each Python task of that job also starts through
the zip-importer cache in webx/__init__.py with webx itself shipped as a
zip.
"""

from __future__ import annotations

import json
import os
import shutil
import zipfile

import pytest

from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_zip_contents(webx_zip):
    assert webx_zip.endswith("webx.zip")
    names = set(zipfile.ZipFile(webx_zip).namelist())
    # every runtime module, the C-kernel SOURCE (compiled per-host from
    # zip resources), and nothing host-specific (no .so) or test-only
    assert "webx/__init__.py" in names
    assert "webx/_ctok.c" in names
    assert not any(n.endswith(".so") for n in names)
    assert not any(n.startswith("tests/") for n in names)
    py_on_disk = {
        f"webx/{f}"
        for f in os.listdir(os.path.join(REPO, "webx"))
        if f.endswith(".py")
    }
    assert py_on_disk <= names, py_on_disk - names


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_extract_job(submitted_extract, spark):
    """End-to-end: zip → spark-submit subprocess → parquet output
    byte-identical to the in-process run, plus its lineage rows."""
    job = submitted_extract
    res = job.proc
    assert res.returncode == 0, res.stderr[-4000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["run_id"] == "pkg-smoke"
    assert summary["partitions_processed"] == job.n_partitions
    assert summary["err_total"] == 0
    assert summary["rows_total"] > 0

    import duckdb

    out_rows = spark.read.parquet(str(job.outdir)).select("url", "text").collect()
    lineage = duckdb.sql(
        f"SELECT count(*), sum(row_count) FROM '{job.ckpt}/*.parquet'"
    ).fetchone()
    assert lineage[0] == job.n_partitions  # one lineage row per logical partition
    assert lineage[1] == len(out_rows)

    from webx import synth
    from webx.config import ExtractConfig
    from webx.pipeline import run_extraction

    got = {(r["url"], r["text"]) for r in out_rows}
    want = {
        (r["url"], r["text"])
        for r in run_extraction(synth.synth_pages(spark, SF_SMALL), ExtractConfig())
        .select("url", "text")
        .collect()
    }
    assert len(got) == len(out_rows) == summary["rows_total"]
    assert got == want  # byte-identical extracted text per url
