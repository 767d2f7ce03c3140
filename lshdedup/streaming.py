"""Streaming incremental dedup — Structured Streaming form of the
reference's one online operator, LSH::query_then_insert (lsh.h:126-144):
each arriving document is matched against everything inserted before it,
then inserted.

The reference's README lists streaming persistence as unimplemented
(README.md:49-52); here it is first-class: a foreachBatch sink where each
micro-batch
  1. signs its rows (fused shingle+minhash UDF),
  2. joins its band rows against the accumulated bucket store
     (query half) and self-joins within the batch (the insert-order pairs),
  3. verifies candidates by exact char-gram Jaccard with batch verify's
     pair kernel (verify.pair_scores) and appends dup pairs,
  4. appends its band rows + doc texts to the stores (insert half).

Scale behavior (what changes as the store outgrows any single batch):
  * both state stores are flat parquet appends, probed by join: the
    batch's band rows join the whole bucket store on (band_id, band_hash),
    and candidates join the batch docs ∪ the whole doc store for verify.
    An earlier layout hash-partitioned each store into 64 directories and
    collected the touched partition ids driver-side to prune the scans.
    The bucket-store pruning could not prune: every row lands in b bands,
    so a batch of n rows leaves a given partition untouched with
    probability (63/64)^(n·b) — 0.6% for n=10, b=32 — and every batch read
    the whole store anyway, behind two collect jobs, two 64-path listing
    jobs and two 64-file appends.  The doc store holds one row per b
    bucket-store rows, so reading all of it adds at most 1/b to the rows
    the probe already scans;
  * appends are compacted every ``compact_every`` batches: a plain
    rewrite, coalesced (no shuffle) to at most ``defaultParallelism``
    files, with a crash-safe rename swap, so file counts stay bounded on
    long streams.
State lives in parquet under ``state_dir``.  At scale the bucket store
is an Iceberg table bucket-partitioned on band_hash, probed through a
storage-partitioned join (the batch's band rows shuffled to the table's
buckets, the table read in place), and compaction is Iceberg's
rewrite_data_files — the logic here is the sandbox stand-in.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lshdedup.config import DedupConfig
from lshdedup.lsh import candidate_pairs, explode_bands
from lshdedup.minhash import add_signatures
from lshdedup.verify import pair_scores


class StreamingDedup:
    """foreachBatch processor maintaining bucket/doc/dup-pair state."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig,
        state_dir: str,
        id_col: str = "image_id",
        text_col: str = "caption",
        compact_every: int = 16,
    ):
        self.spark = spark
        self.cfg = cfg
        self.state_dir = state_dir
        self.id_col = id_col
        self.text_col = text_col
        self.compact_every = compact_every
        os.makedirs(state_dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _read_state(self, name: str) -> DataFrame | None:
        path = self._path(name)
        # crash recovery for a compaction interrupted before, between or
        # after its renames: a rewrite never swapped in is dropped, and a
        # store moved aside to <name>_old is restored (or, once replaced,
        # dropped)
        tmp, old = path + "_tmp", path + "_old"
        if os.path.exists(old):
            if os.path.exists(path):
                shutil.rmtree(old)
            else:
                os.rename(old, path)
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(path):
            return None
        try:
            return self.spark.read.parquet(path)
        except Exception:
            return None

    def _batch_done(self, batch_id: int) -> bool:
        return os.path.exists(self._path(f"_batch_{batch_id}_done"))

    def _mark_done(self, batch_id: int) -> None:
        open(self._path(f"_batch_{batch_id}_done"), "w").close()

    def _maybe_compact(self, name: str, batch_id: int) -> None:
        """Rewrite the store's accumulated small appends into at most
        ``defaultParallelism`` files (coalesce: no shuffle).  Crash-safe:
        the new store is fully written to a temp dir, then swapped in with
        two renames (recovery in _read_state)."""
        if self.compact_every <= 0 or (batch_id + 1) % self.compact_every:
            return
        df = self._read_state(name)
        if df is None:
            return
        path, tmp, old = self._path(name), self._path(name) + "_tmp", self._path(name) + "_old"
        n = self.spark.sparkContext.defaultParallelism
        df.coalesce(n).write.mode("overwrite").parquet(tmp)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._batch_done(batch_id):  # replay after restart → idempotent
            return
        cfg, idc, txt = self.cfg, self.id_col, self.text_col
        signed = add_signatures(
            batch.select(idc, txt), cfg, text_col=txt, phash_col="_none_"
        ).persist()
        bands = explode_bands(signed, idc, "sig", cfg).persist()

        # query half: new rows vs the accumulated store, joined on the
        # bucket key
        store = self._read_state("buckets")
        cands_new_old = None
        if store is not None:
            q = bands.select("band_id", "band_hash", F.col(idc).alias("id_a"))
            s = store.select("band_id", "band_hash", F.col(idc).alias("id_b"))
            cands_new_old = (
                q.join(s, ["band_id", "band_hash"])
                .select("id_a", "id_b")
                .dropDuplicates(["id_a", "id_b"])
            )
        # insert-order half: pairs within this batch (candidate_pairs
        # persists its sized-bucket intermediate; track it so each
        # micro-batch releases it — foreachBatch runs unbounded batches)
        batch_persisted: list = []
        cands_in_batch, _ = candidate_pairs(bands, idc, cfg, persisted=batch_persisted)
        cands = (
            cands_in_batch
            if cands_new_old is None
            else cands_in_batch.unionByName(cands_new_old)
        )

        # exact verification (the batch pipeline's pair-scoring kernel, on
        # texts alone) needs both texts: id_a always comes from this batch;
        # id_b may be stored
        doc_store = self._read_state("docs")
        batch_docs = signed.select(idc, txt)
        all_docs = (
            batch_docs
            if doc_store is None
            else batch_docs.unionByName(doc_store.select(idc, txt))
        )
        left = all_docs.select(F.col(idc).alias("id_a"), F.col(txt).alias("_ta"))
        right = all_docs.select(F.col(idc).alias("id_b"), F.col(txt).alias("_tb"))
        verified = (
            cands.join(left, "id_a")
            .join(right, "id_b")
            .withColumn("_s", pair_scores(cfg.k, text_a=F.col("_ta"), text_b=F.col("_tb")))
            .filter(F.col("_s.jaccard") >= cfg.threshold)
            .select("id_a", "id_b", F.col("_s.jaccard").alias("jaccard"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        verified.write.mode("append").parquet(self._path("dup_pairs"))

        # insert half: extend the stores
        bands.write.mode("append").parquet(self._path("buckets"))
        batch_docs.write.mode("append").parquet(self._path("docs"))
        signed.unpersist()
        bands.unpersist()
        for df in batch_persisted:
            df.unpersist()
        self._mark_done(batch_id)
        self._maybe_compact("buckets", batch_id)
        self._maybe_compact("docs", batch_id)

    def start(self, stream: DataFrame, checkpoint: str | None = None):
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint or self._path("_ss_checkpoint")
        )
        return writer.trigger(availableNow=True).start()

    def dup_pairs(self) -> DataFrame:
        out = self._read_state("dup_pairs")
        if out is None:
            return self.spark.createDataFrame(
                [], "id_a string, id_b string, jaccard double, batch_id long"
            )
        return out
