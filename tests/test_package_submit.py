"""Packaging + spark-submit system test (SURVEY §2.1 'model export /
package', previously manual-smoke only): build webx.zip with
scripts/package.sh, then run the checkpointed extraction job via a real
``spark-submit --py-files`` subprocess from a NEUTRAL cwd — so the
``import webx`` inside jobs/extract.py must resolve from the zip, not
from the repo checkout — and assert the output table and per-partition
lineage rows landed.

The zip and the submitted job are the session fixtures ``webx_zip`` and
``submitted_extract`` in conftest.py, shared with test_submit_package.py,
so the suite builds once and submits once."""

from __future__ import annotations

import shutil
import zipfile

import pytest


def test_package_script_contents(webx_zip):
    assert webx_zip.endswith("webx.zip")
    names = zipfile.ZipFile(webx_zip).namelist()
    assert "webx/__init__.py" in names
    assert "webx/extract.py" in names
    assert "webx/_ctok.c" in names  # the kernel source ships; compiled on import
    assert not any(n.endswith(".so") for n in names)  # no host-built binaries


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_py_files_end_to_end(submitted_extract):
    job = submitted_extract
    assert job.proc.returncode == 0, job.proc.stderr[-4000:]
    import duckdb

    n_out = duckdb.sql(
        f"SELECT count(*) FROM '{job.outdir}/**/*.parquet'"
    ).fetchone()[0]
    lineage = duckdb.sql(
        f"SELECT count(*), sum(row_count) FROM '{job.ckpt}/*.parquet'"
    ).fetchone()
    assert n_out > 0
    assert lineage[0] == job.n_partitions  # one lineage row per logical partition
    assert lineage[1] == n_out
