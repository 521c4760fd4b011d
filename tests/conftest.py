from __future__ import annotations

import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBMIT_PARTITIONS = 8


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: a long-running end-to-end check")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("webx-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def webx_zip(tmp_path_factory):
    """webx.zip built once by scripts/package.sh for the packaging tests."""
    out = tmp_path_factory.mktemp("pkg")
    res = subprocess.run(
        [os.path.join(REPO, "scripts", "package.sh"), str(out)],
        capture_output=True,
        text=True,
        check=True,
    )
    return res.stdout.strip()


@pytest.fixture(scope="session")
def submitted_extract(webx_zip, tmp_path_factory):
    """One real `spark-submit --py-files webx.zip jobs/extract.py` run,
    shared by the packaging tests. It runs from a cwd where `webx` is not
    importable from the filesystem and without PYTHONPATH, so every
    import, driver and executor side, must come from the zip."""
    cwd = tmp_path_factory.mktemp("submit")
    outdir = cwd / "out"
    ckpt = cwd / "ckpt"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            "--conf",
            "spark.sql.shuffle.partitions=4",
            "--py-files",
            webx_zip,
            os.path.join(REPO, "jobs", "extract.py"),
            "--synth",
            SF_SMALL,
            "--output",
            str(outdir),
            "--checkpoint",
            str(ckpt),
            "--run-id",
            "pkg-smoke",
            "--snapshot-id",
            "s1",
            "--n-partitions",
            str(SUBMIT_PARTITIONS),
            "--chunk-size",
            "4",
        ],
        capture_output=True,
        text=True,
        cwd=str(cwd),
        env=env,
        timeout=600,
    )
    return SimpleNamespace(
        proc=res, outdir=outdir, ckpt=ckpt, n_partitions=SUBMIT_PARTITIONS
    )
