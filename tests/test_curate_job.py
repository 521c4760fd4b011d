"""jobs/curate.py — the end-to-end curation cascade (C4/CCNet/Gopher/
RefinedWeb stage order) over library operators, with a funnel report."""

from __future__ import annotations

import json
import os
import sys

JOBS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"
)


def test_curate_job_funnel_monotone_and_output_matches(spark, tmp_path):
    sys.path.insert(0, JOBS_DIR)
    import curate as CJ

    out = str(tmp_path / "curated")
    report = str(tmp_path / "funnel.json")
    rc = CJ.main(
        [
            "--synth", "/root/testdata/sf0.001",
            "--output", out,
            "--report", report,
            "--funnel",
            "--no-c4",  # synth text has no terminal-punct lines
            "--langs", "en,de,fr,es",
            "--max-per-host", "40",
            "--minhash-threshold", "0.6",
        ]
    )
    assert rc == 0
    rep = json.loads(open(report).read())
    counts = [s["survivors"] for s in rep["stages"]]
    names = [s["stage"] for s in rep["stages"]]
    assert names[0] == "input" and counts[0] == 500
    # every stage can only shrink the corpus
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    # the written output is exactly the final survivor set
    assert rep["output_rows"] == counts[-1] > 0
    got = spark.read.parquet(out)
    assert got.count() == rep["output_rows"]
    assert {"doc_id", "url", "text"} <= set(got.columns)
    # host cap actually bound: no host exceeds 40 docs
    from pyspark.sql import functions as F
    from webx.urls import host

    mx = (
        got.groupBy(host(F.col("url")).alias("h"))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert mx <= 40


def test_curate_job_c4_and_packing(spark, tmp_path):
    sys.path.insert(0, JOBS_DIR)
    import curate as CJ
    from pyspark.sql import functions as F

    # input with real line structure so C4 keeps some docs
    good = "\n".join(
        [
            "This is a proper first sentence with words.",
            "Here is another complete sentence that ends properly!",
            "Does the third sentence finish with a question mark?",
        ]
    )
    rows = [(f"https://h{i%3}.example.com/p/{i}", good + f"\nUnique trailing sentence number {i} ends here.") for i in range(20)]
    rows += [("https://h9.example.com/bad", "no punctuation line\nshort.\nalso nothing")]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "url string, text string").write.parquet(src)

    out = str(tmp_path / "curated")
    report = str(tmp_path / "funnel.json")
    rc = CJ.main(
        [
            "--input", src,
            "--output", out,
            "--report", report,
            "--funnel",
            "--no-quality",  # tiny docs: token gate would drop all
            "--no-exact-dedup",
            "--pack-max-tokens", "64",
        ]
    )
    assert rc == 0
    rep = json.loads(open(report).read())
    by = {s["stage"]: s["survivors"] for s in rep["stages"]}
    assert by["c4_clean"] == 20  # the punctuation-free page dropped
    got = spark.read.parquet(out)
    assert "bin" in got.columns and "n_tokens" in got.columns
    # packing respects the cap for multi-doc bins
    bins = got.groupBy("bin").agg(
        F.sum("n_tokens").alias("tot"), F.count("*").alias("n")
    )
    assert bins.filter((F.col("n") > 1) & (F.col("tot") > 64)).count() == 0


def test_curate_job_dup_profile_gate(spark, tmp_path):
    """--max-dup-frac engages the suffix-array duplication profile as a
    funnel stage: survivors shrink (synth text is template-heavy, so
    some docs exceed any strict threshold) and the stage is recorded."""
    sys.path.insert(0, JOBS_DIR)
    import curate as CJ

    out = str(tmp_path / "curated")
    report = str(tmp_path / "funnel.json")
    rc = CJ.main(
        [
            "--synth", "/root/testdata/sf0.001",
            "--output", out,
            "--report", report,
            "--funnel",
            "--no-c4",
            "--no-quality",
            "--max-dup-frac", "0.35",
        ]
    )
    assert rc == 0
    rep = json.loads(open(report).read())
    names = [s["stage"] for s in rep["stages"]]
    counts = [s["survivors"] for s in rep["stages"]]
    assert "dup_profile" in names
    i = names.index("dup_profile")
    assert counts[i] <= counts[i - 1]
    assert rep["output_rows"] == counts[-1] > 0


def test_curate_job_default_cascade_scans_input_twice_at_most(spark, tmp_path):
    """The default cascade's row-local gates (C4, Gopher quality,
    repetition) and exact dedup filter the frame they gate instead of
    joining flags back by doc_id, so the final write's plan scans the
    input at most twice (a join per gate scanned it 16 times)."""
    sys.path.insert(0, JOBS_DIR)
    import curate as CJ

    args = CJ.parse_args(
        [
            "--synth", "/root/testdata/sf0.001",
            "--output", str(tmp_path / "curated"),
            "--max-per-host", "10",
        ]
    )
    docs, funnel = CJ.cascade(spark, args)
    assert funnel == []
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert 1 <= plan.count("FileScan") <= 2
