"""Kill/resume test (SURVEY §5): a run killed after K chunks must resume
at partition granularity and converge to the identical final output."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from webx import synth
from webx.config import ExtractConfig
from webx.lineage import (
    CheckpointStore,
    run_checkpointed_extraction,
    with_partition_id,
)
from webx.pipeline import run_extraction

CFG = ExtractConfig()
NP = 8


def test_partition_id_stable_across_parallelism(spark):
    pages = synth.synth_pages(spark, SF_SMALL)
    a = with_partition_id(pages, NP).select("url", "partition_id")
    b = with_partition_id(pages.repartition(13), NP).select("url", "partition_id")
    assert a.exceptAll(b).count() == 0


def test_full_run_and_idempotence(spark, tmp_path):
    pages = synth.synth_pages(spark, SF_SMALL)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")
    done = run_checkpointed_extraction(
        spark, pages, out, store, "run1", "snapA", CFG, n_partitions=NP, chunk_size=NP
    )
    assert sorted(done) == list(range(NP))
    lineage = store.read(spark)
    rows = lineage.collect()
    assert len(rows) == NP
    assert sum(r["row_count"] for r in rows) == 500
    assert all(r["status"] == "done" for r in rows)
    assert all(r["bytes_in"] > 0 and r["spans_out"] > 0 for r in rows)
    # second invocation: nothing left to do
    assert run_checkpointed_extraction(
        spark, pages, out, store, "run1", "snapA", CFG, n_partitions=NP
    ) == []


def test_kill_and_resume_byte_identical(spark, tmp_path):
    pages = synth.synth_pages(spark, SF_SMALL)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")
    # killed run: only 2 chunks of 2 partitions land
    first = run_checkpointed_extraction(
        spark, pages, out, store, "r", "s", CFG,
        n_partitions=NP, chunk_size=2, max_chunks=2,
    )
    assert len(first) == 4
    assert store.completed_partitions(spark, "r", "s") == sorted(first)
    # resume: must process exactly the remaining partitions
    second = run_checkpointed_extraction(
        spark, pages, out, store, "r", "s", CFG, n_partitions=NP, chunk_size=2
    )
    assert sorted(first + second) == list(range(NP))
    assert set(first).isdisjoint(second)
    # final output == straight (non-checkpointed) run, byte-identical
    final = spark.read.parquet(out).select("url", "text")
    straight = run_extraction(pages, CFG).select("url", "text")
    assert final.count() == 500
    assert final.exceptAll(straight).count() == 0
    assert straight.exceptAll(final).count() == 0


def test_lineage_counts_match_output(spark, tmp_path):
    pages = synth.synth_pages_edge(spark, SF_SMALL)  # 1 in 5 boiler-only
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")
    run_checkpointed_extraction(
        spark, pages, out, store, "r", "s", CFG, n_partitions=4, chunk_size=4
    )
    lineage = store.read(spark)
    agg = lineage.agg(
        F.sum("row_count").alias("rows"), F.sum("spans_out").alias("spans")
    ).first()
    written = spark.read.parquet(out)
    assert agg["rows"] == written.count() == 500
    assert agg["spans"] == written.agg(F.sum("n_spans")).first()[0] == 400


def test_salted_partitioning_balances_mega_host(spark):
    """Explicit skew mitigation: 90% of urls on one mega-host must still
    spread across tasks (url-hash + salt key, pipeline.py)."""
    from webx.pipeline import partition_for_extraction

    n = 2000
    df = spark.range(n).selectExpr(
        "concat('https://', case when id % 10 < 9 then 'mega' else concat('h', id % 10) end, "
        "'.example.com/p/', id) AS url",
        "cast(repeat('x', 100) AS BINARY) AS html",
    )
    parts = partition_for_extraction(df, ExtractConfig(repartition=16, size_gears=True))
    sizes = (
        parts.select(F.spark_partition_id().alias("p"))
        .groupBy("p").count().collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == 16
    assert max(counts) <= 2.0 * (n / 16)  # no partition dominated by the mega-host


def test_partial_garbage_overwritten_on_resume(spark, tmp_path):
    """A crashed chunk may leave partial partition files; dynamic
    partition overwrite must replace them wholesale on the re-run."""
    import pathlib

    pages = synth.synth_pages(spark, SF_SMALL)
    store = CheckpointStore(str(tmp_path / "ckpt"))
    out = tmp_path / "out"
    # simulate debris from a crashed run: a bogus file in partition 0's dir
    debris = out / "partition_id=0"
    debris.mkdir(parents=True)
    (debris / "part-corrupt.parquet").write_bytes(b"not a parquet file")

    run_checkpointed_extraction(
        spark, pages, str(out), store, "r", "s", CFG, n_partitions=4, chunk_size=4
    )
    final = spark.read.parquet(str(out))
    assert final.count() == 500  # debris replaced, not merged or fatal
    straight = run_extraction(pages, CFG).select("url", "text")
    assert final.select("url", "text").exceptAll(straight).count() == 0


def test_checkpointed_pdf_extraction_kill_and_resume(spark, tmp_path):
    """The lane-generic runner: PDF corpora get the same
    partition-granular checkpoint/resume as HTML via extract_fn, and the
    resumed output is byte-identical to a direct single-pass extract."""
    from webx import synth
    from webx.lineage import CheckpointStore, run_checkpointed_extraction
    from webx.pdf import extract_pdf

    pdfs = synth.synth_pdfs(spark, "/root/testdata/sf0.001")
    ck = CheckpointStore(str(tmp_path / "ck"))
    out = str(tmp_path / "out")
    common = dict(
        spark=spark, pages=pdfs, output_path=out, checkpoint=ck,
        run_id="pdfrun", snapshot_id="sf0.001", n_partitions=8,
        chunk_size=2,
        extract_fn=lambda sub, cfg, pt: extract_pdf(sub, passthrough=tuple(pt)),
    )
    first = run_checkpointed_extraction(max_chunks=2, **common)  # "killed"
    assert len(first) == 4
    second = run_checkpointed_extraction(**common)  # resume
    assert len(second) == 4 and set(first).isdisjoint(second)

    saved = spark.read.parquet(out).select("url", "text")
    direct = extract_pdf(pdfs).select("url", "text")
    assert saved.count() == direct.count() == 500
    assert saved.exceptAll(direct).count() == 0
    assert direct.exceptAll(saved).count() == 0
    # third call: nothing left to do
    assert run_checkpointed_extraction(**common) == []


def test_snapshot_id_tracks_input_content(tmp_path):
    """Parquet-mode snapshot identity: same listing → same id;
    regenerated data (new bytes/mtime) → NEW id, so resume cannot skip
    partitions completed against other bytes. Spark marker files are
    ignored."""
    import time as _time

    from webx.lineage import snapshot_id_for_path

    d = tmp_path / "tbl"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"aaa")
    (d / "_SUCCESS").write_bytes(b"")
    a = snapshot_id_for_path(str(d))
    assert a == snapshot_id_for_path(str(d))
    assert a.startswith("fs-")
    (d / "_SUCCESS").write_bytes(b"marker change is invisible")
    assert snapshot_id_for_path(str(d)) == a
    _time.sleep(0.01)
    (d / "part-0.parquet").write_bytes(b"bbb!")  # new size+mtime
    assert snapshot_id_for_path(str(d)) != a


class FakeIcebergCatalog:
    """Minimal stand-in for an Iceberg catalog: hands out opaque external
    snapshot ids (`table.currentSnapshot().snapshotId()` on a real
    cluster). The lineage API must treat the id as an opaque caller
    string end-to-end — this is the Iceberg adapter seam (README
    'Iceberg seam'): swap `snapshot_id_for_path` for the catalog call
    and fmt='parquet' for 'iceberg', nothing else changes."""

    def __init__(self):
        self._snap = 1000

    def current_snapshot_id(self) -> str:
        return f"iceberg-snap-{self._snap}"

    def commit_new_snapshot(self) -> str:
        self._snap += 1
        return self.current_snapshot_id()


def test_external_catalog_snapshot_ids_end_to_end(spark, tmp_path):
    """Catalog-provided snapshot ids flow through run → lineage rows →
    resume skip-set: resume under the SAME external id skips completed
    partitions; a NEW catalog snapshot id invalidates the skip-set (all
    partitions recompute); lineage rows carry the ids verbatim."""
    from pyspark.sql import functions as F

    cat = FakeIcebergCatalog()
    pages = synth.synth_pages(spark, SF_SMALL).limit(200)
    store = CheckpointStore(str(tmp_path / "lineage"))
    out = str(tmp_path / "out")
    snap1 = cat.current_snapshot_id()

    first = run_checkpointed_extraction(
        spark, pages, out, store, "run-cat", snap1,
        n_partitions=8, chunk_size=2, max_chunks=2,
    )
    assert len(first) == 4
    resumed = run_checkpointed_extraction(
        spark, pages, out, store, "run-cat", snap1,
        n_partitions=8, chunk_size=8,
    )
    assert sorted(first + resumed) == list(range(8))
    # lineage rows carry the external id verbatim
    ids = {
        r["input_snapshot_id"]
        for r in store.read(spark).select("input_snapshot_id").distinct().collect()
    }
    assert ids == {snap1}
    # the catalog commits a new snapshot: same run_id, new id → nothing
    # is skipped (stale-skip-set protection is keyed on the snapshot id)
    snap2 = cat.commit_new_snapshot()
    again = run_checkpointed_extraction(
        spark, pages, out, store, "run-cat", snap2,
        n_partitions=8, chunk_size=8,
    )
    assert sorted(again) == list(range(8))
    rows = store.read(spark)
    assert rows.filter(F.col("input_snapshot_id") == snap2).count() > 0
