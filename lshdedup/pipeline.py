"""The flagship dedup pipeline — the Spark lifecycle of the reference's
``dna_benchmark`` entry point (dna_benchmark.h:447-504, SURVEY §3.1):

  scan → exact-dup collapse → signatures → band explode → bucket self-join
  → verify → dup_pairs → connected components → clusters

Shuffle inventory (what the plan must look like at 100 TB):
  1. exact-dup collapse      — shuffle on 128-bit content key
  2. bucket self-join        — shuffle on (band_id, band_hash); window
                               count reuses the same partitioning
  3. verify enrich           — two joins pairs↔docs (docs side pruned to
                               id/sig/caption/phash only — never `bytes`)
  4. CC rounds               — large-star/small-star, O(log n) rounds of
                               three shuffles (edges on lo, min-per-hi
                               aggregate, small-star window on hi)
Everything else is narrow.  `bytes` is pruned at the first select and never
travels past the scan (SURVEY §7.4).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lshdedup.checkpoint import StageRunner
from lshdedup.cluster import assign_clusters
from lshdedup.config import DedupConfig
from lshdedup.lsh import candidate_pairs, exact_dup_groups, explode_bands
from lshdedup.minhash import add_signatures
from lshdedup.params import optimal_params
from lshdedup.simhash import simhash_udf
from lshdedup.verify import verify_pairs


@dataclass
class DedupResult:
    clusters: DataFrame          # (image_id, cluster_id)
    dup_pairs: DataFrame         # verified (id_a, id_b, scores..., is_dup=true)
    candidates: DataFrame        # pre-verify candidate pairs
    skew_report: DataFrame       # over-cap buckets excluded from pair-gen
    cfg: DedupConfig
    extra: dict = field(default_factory=dict)

    def unpersist(self) -> None:
        """Release every DataFrame the pipeline persisted (signatures,
        sized buckets, candidates).  Call after materializing the outputs —
        long-lived sessions that run the pipeline repeatedly (bench, the
        driver) leak executor storage otherwise."""
        for df in self.extra.get("persisted", []):
            df.unpersist()


def dedup_pipeline(
    spark: SparkSession,
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "image_id",
    text_col: str = "caption",
    phash_col: Optional[str] = "phash",
) -> DedupResult:
    """Run the near-duplicate pipeline over an image+caption DataFrame.

    ``df`` needs (id_col, text_col[, phash_col]); any other columns
    (e.g. the fat ``bytes`` column) are pruned immediately.
    """
    cfg = cfg.resolved(optimal_params)
    use_phash = phash_col is not None and cfg.use_phash and phash_col in df.columns
    narrow_cols = [id_col, text_col] + ([phash_col] if use_phash else [])
    narrow = df.select(*narrow_cols)

    runner = StageRunner(spark, cfg) if cfg.checkpoint_dir else None
    persisted: list = []

    def run(name, fn):
        return runner.stage(name, fn) if runner else fn()

    # 1. exact-duplicate collapse (scale safeguard; lsh.py docstring).
    # One call on both paths.  Without a runner the shared window frame is
    # persisted so reps (consumed early) and member_edges (consumed by CC
    # late) don't each pay the content-key shuffle + window.  With a runner
    # the frame is not persisted: caching it (text included) made the reps
    # stage slower and kept the text cached for callers that never unpersist.
    key_cols = [text_col] + ([phash_col] if use_phash else [])
    reps_df, exact_edges_df = exact_dup_groups(
        narrow, id_col, key_cols, persisted=None if runner else persisted
    )
    reps = run("reps", lambda: reps_df)
    exact_edges = run("exact_edges", lambda: exact_edges_df)

    # 2. signatures (narrow map, fused shingle+minhash UDF)
    signed = run(
        "signatures",
        lambda: add_signatures(reps, cfg, text_col=text_col,
                               phash_col=phash_col if use_phash else "_none_"),
    )
    if cfg.verify_mode == "exact+simhash":
        signed = signed.withColumn("simhash", simhash_udf(cfg)(F.col(text_col)))
    if not runner:
        # signed is consumed by banding AND twice by verify-enrich; persist
        # so the signature UDF runs exactly once per row (the checkpointed
        # path gets this from the parquet stage boundary instead)
        signed = signed.persist()
        persisted.append(signed)

    # 3. band explode → candidate pairs (the LSH "join")
    buckets = explode_bands(signed, id_col, "sig", cfg)
    cand_holder = {}

    def _cands():
        pairs, skew = candidate_pairs(
            buckets, id_col, cfg, persisted=persisted, eager=not runner
        )
        cand_holder["skew"] = skew
        return pairs

    candidates = run("candidates", _cands)
    if not runner:
        # Persisted for the verify probe (timed) and the skew/result
        # consumers (untimed).  No eager count here: since the CC
        # symmetrization reads the edge list in ONE pass (cluster.py), the
        # timed path has a single consumer chain through verify, so the
        # cache materializes exactly once without a barrier.  (The sized
        # frame above DOES need its eager materialization — the self-join
        # consumes it from two concurrent branches.)
        candidates = candidates.persist()
        persisted.append(candidates)
    skew = cand_holder.get("skew")
    if skew is None:  # resumed: recompute report definition lazily
        _, skew = candidate_pairs(buckets, id_col, cfg, persisted=persisted)

    # 4. verify
    verified = run(
        "verified",
        lambda: verify_pairs(
            candidates,
            signed,
            cfg,
            id_col=id_col,
            text_col=text_col,
            phash_col=phash_col if use_phash else None,
            simhash_col="simhash" if cfg.verify_mode == "exact+simhash" else None,
        ),
    )
    dup_pairs = verified.filter(F.col("is_dup"))

    # 5. connected components over (exact-dup edges ∪ verified rep pairs)
    edges = dup_pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(exact_edges.select("src", "dst"))
    # CC rounds and per-round rewritten edges; empty when the stage resumed
    cc_stats: dict = {}
    clusters = run(
        "clusters",
        lambda: assign_clusters(narrow, edges, id_col=id_col, stats=cc_stats),
    )

    extra = {"runner": runner, "persisted": persisted, "cc": cc_stats}
    return DedupResult(
        clusters=clusters,
        dup_pairs=dup_pairs,
        candidates=candidates,
        skew_report=skew,
        cfg=cfg,
        extra=extra,
    )


def dup_pairs_brute_force(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "image_id",
    text_col: str = "caption",
) -> DataFrame:
    """Exact all-pairs Jaccard oracle (small scale ONLY) — the reference's
    ground-truth harness (lsh_benchmark.h:109-129, dna_benchmark.h:234-250).
    Triangular crossJoin + native array intersect/union."""
    from lshdedup.shingle import distinct_char_shingles_expr, exact_jaccard_expr

    sets = df.select(
        F.col(id_col), distinct_char_shingles_expr(F.col(text_col), cfg.k).alias("sh")
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", exact_jaccard_expr(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= cfg.threshold)
        .select("id_a", "id_b", "jaccard")
    )
