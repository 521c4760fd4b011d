"""Keyed binary store source — the LMDBDataset analog
(mindocr/data/rec_lmdb_dataset.py:92-155): global index order across
sorted shards, header-only metadata pass, ratio sampling as global-index
truncation, shard pruning past the cutoff."""

from __future__ import annotations

import os

from tests.helpers import write_keyed_store
from webx.sources import parse_keyed_shard, read_keyed_store


def _mk_records(n):
    return [
        (f"image-{i:09d}", f"label text {i}", bytes([i % 251]) * (10 + i % 7))
        for i in range(n)
    ]


def test_roundtrip_and_global_index(spark, tmp_path):
    path = str(tmp_path / "store")
    recs = _mk_records(40)
    write_keyed_store(recs, path, shards=4)

    # shard-level parse matches the writer's round-robin layout
    with open(os.path.join(path, "shard-00001.kvb"), "rb") as f:
        shard1 = parse_keyed_shard(f.read())
    assert [k for k, _, _ in shard1] == [f"image-{i:09d}" for i in range(1, 40, 4)]

    df = read_keyed_store(spark, path)
    rows = df.orderBy("global_idx").collect()
    assert len(rows) == 40
    assert [r["global_idx"] for r in rows] == list(range(40))
    # global order = shard path order × in-shard index order
    expect_keys = [
        f"image-{i:09d}" for s in range(4) for i in range(s, 40, 4)
    ]
    assert [r["key"] for r in rows] == expect_keys
    # binary payloads survive byte-exact
    by_key = {r["key"]: (r["label"], bytes(r["value"])) for r in rows}
    for k, lbl, v in recs:
        assert by_key[k] == (lbl, v)


def test_sample_ratio_truncates_global_order(spark, tmp_path):
    path = str(tmp_path / "store")
    write_keyed_store(_mk_records(40), path, shards=4)
    df = read_keyed_store(spark, path, sample_ratio=0.5)
    rows = df.orderBy("global_idx").collect()
    # reference semantics: first round(total * ratio) of the global list
    assert [r["global_idx"] for r in rows] == list(range(20))


def test_shard_pruning_skips_tail_shards(spark, tmp_path):
    """A ratio that ends inside shard 0's range must read ONLY shard 0:
    observable via input_file_name on the surviving rows."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "store")
    write_keyed_store(_mk_records(40), path, shards=4)  # 10 per shard
    df = read_keyed_store(spark, path, sample_ratio=0.1)  # cutoff = 4
    rows = df.select("global_idx", F.input_file_name().alias("src")).collect()
    assert sorted(r["global_idx"] for r in rows) == [0, 1, 2, 3]
    assert {os.path.basename(r["src"]) for r in rows} == {"shard-00000.kvb"}


def test_empty_and_bad_magic(spark, tmp_path):
    path = str(tmp_path / "store")
    os.makedirs(path)
    with open(os.path.join(path, "shard-00000.kvb"), "wb") as f:
        f.write(b"NOT A STORE")
    assert parse_keyed_shard(b"garbage") == []
    assert read_keyed_store(spark, path).count() == 0
