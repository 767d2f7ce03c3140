"""Streaming incremental dedup (query_then_insert semantics, lsh.h:126-144)
via Structured Streaming foreachBatch over a file source."""

import itertools
import os
import random
import string

from lshdedup.config import DedupConfig
from lshdedup.streaming import StreamingDedup

CFG = DedupConfig(k=3, n_perm=64, b=16, r=4, threshold=0.7, use_phash=False)

SCHEMA = "image_id string, caption string"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_streaming_dedup_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    batch1 = [("a", "the quick brown fox jumps"), ("b", "totally unrelated words")]
    batch2 = [("c", "the quick brown fox jumps"), ("d", "more unrelated content")]
    _write_batch(spark, src, batch1)

    dedup = StreamingDedup(spark, CFG, state, id_col="image_id", text_col="caption")
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = dedup.start(stream)
    q.awaitTermination(60)

    # second wave of files, new run (availableNow terminates)
    _write_batch(spark, src, batch2)
    q2 = dedup.start(spark.readStream.schema(SCHEMA).parquet(src))
    q2.awaitTermination(60)

    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.dup_pairs().select("id_a", "id_b").collect()
    }
    norm = {tuple(sorted(p)) for p in pairs}
    assert ("a", "c") in norm          # cross-batch dup found
    assert all("b" not in p and "d" not in p for p in norm)


def test_streaming_idempotent_replay(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    rows = [("x", "identical caption here"), ("y", "identical caption here")]
    _write_batch(spark, src, rows)
    dedup = StreamingDedup(spark, CFG, state, id_col="image_id", text_col="caption")
    bdf = spark.read.parquet(src)
    dedup.process_batch(bdf, 0)
    n1 = dedup.dup_pairs().count()
    dedup.process_batch(bdf, 0)  # replay same batch id → no duplicate state
    n2 = dedup.dup_pairs().count()
    assert n1 == n2 == 1


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def _pairs(dedup):
    return {tuple(sorted((r["id_a"], r["id_b"])))
            for r in dedup.dup_pairs().select("id_a", "id_b").collect()}


def _filler(rng, n, tag):
    """n rows of random letters: no two share enough 3-grams to pair."""
    return [(f"{tag}{i}", "".join(rng.choice(string.ascii_lowercase) for _ in range(40)))
            for i in range(n)]


def test_streaming_store_compacted(spark, tmp_path):
    """Compaction rewrites each store's accumulated appends into at most
    defaultParallelism files, and a later batch probing the compacted
    stores still finds its cross-batch pairs."""
    state = str(tmp_path / "state")
    dedup = StreamingDedup(
        spark, CFG, state, id_col="image_id", text_col="caption", compact_every=3,
    )
    rng = random.Random(7)
    dup = "the quick brown fox jumps high"
    stores = [os.path.join(state, s) for s in ("buckets", "docs")]
    for i, key in enumerate("aceg"):
        rows = [(key, dup)] + _filler(rng, 15, f"f{i}_")
        dedup.process_batch(spark.createDataFrame(rows, SCHEMA), i)
        if i == 1:
            before = [len(_parquet_files(p)) for p in stores]
        if i == 2:  # compaction ran at batch 2 (compact_every=3)
            n = spark.sparkContext.defaultParallelism
            after = [len(_parquet_files(p)) for p in stores]
            assert all(a <= n for a in after), (after, n)
            assert all(a < b for a, b in zip(after, before)), (after, before)

    assert _pairs(dedup) == {tuple(sorted(p)) for p in itertools.combinations("aceg", 2)}


def test_streaming_compaction_crash_recovery(spark, tmp_path):
    """A compaction interrupted between its renames leaves <store>_old,
    no <store>, and a stale <store>_tmp; the next batch restores the store,
    drops the temp dir and still finds its cross-batch pair."""
    state = str(tmp_path / "state")
    dedup = StreamingDedup(
        spark, CFG, state, id_col="image_id", text_col="caption", compact_every=0,
    )
    dedup.process_batch(
        spark.createDataFrame([("a", "the quick brown fox jumps high")], SCHEMA), 0
    )
    for name in ("buckets", "docs"):
        path = os.path.join(state, name)
        os.rename(path, path + "_old")
        os.makedirs(path + "_tmp")
        with open(os.path.join(path + "_tmp", "part-00000.parquet"), "w") as f:
            f.write("half-written")
    dedup.process_batch(
        spark.createDataFrame([("b", "the quick brown fox jumps high")], SCHEMA), 1
    )
    for name in ("buckets", "docs"):
        path = os.path.join(state, name)
        assert _parquet_files(path)
        assert not os.path.exists(path + "_old")
        assert not os.path.exists(path + "_tmp")
    assert _pairs(dedup) == {("a", "b")}


def test_streaming_verify_reads_doc_store(spark, tmp_path):
    """A batch whose only near-duplicate is a stored doc verifies the pair
    against that doc's text, read from the doc store."""
    state = str(tmp_path / "state")
    dedup = StreamingDedup(
        spark, CFG, state, id_col="image_id", text_col="caption", compact_every=0,
    )
    b0 = spark.createDataFrame(
        [(f"id{i}", f"unique text number {i} with words") for i in range(20)],
        SCHEMA,
    )
    dedup.process_batch(b0, 0)
    b1 = spark.createDataFrame([("id0b", "unique text number 0 with words")], SCHEMA)
    dedup.process_batch(b1, 1)
    assert ("id0", "id0b") in _pairs(dedup)
