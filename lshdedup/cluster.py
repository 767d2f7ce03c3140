"""Connected components over dup pairs → cluster assignments.

The reference's clustering is a commented-out greedy star pass
(dna_benchmark.h:361-417, single-threaded, insertion-order dependent).
The distributed replacement alternates large-star and small-star (Kiveris
et al., SoCC 2014) over the oriented edge set (lo, hi), lo <= hi:

  large-star  each edge (lo, hi) re-hangs hi on m(lo), the smallest vertex
              of lo's closed neighbourhood;
  small-star  each hi and all its smaller neighbours re-hang on the
              smallest of those neighbours.

Both keep connectivity and each component's minimum; their common fixpoint
is a star forest centred on the minima, so labels are min ids —
deterministic and independent of partitioning.  Rounds are O(log n) on
paths (O(log² n) worst case), where min-label propagation needed one per
hop of diameter.  Each round is three shuffles and one ``localCheckpoint``;
convergence is read from a ``DataFrame.observe`` on that checkpoint, so
it costs no extra job.

Note CC ⊇ greedy-star clusters; recall per BASELINE is measured on
dup-PAIR sets, which are identical (SURVEY §2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _release(df: DataFrame) -> None:
    """Drop a ``localCheckpoint``'s blocks; ``DataFrame.unpersist`` does not."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def large_star(e: DataFrame) -> DataFrame:
    """One large-star step over oriented edges (lo, hi); ``_large`` flags
    the edges it rewrote."""
    # min smaller-or-equal neighbour per vertex: it scales with the vertex
    # count, and broadcasting it exhausted the driver at 384k rows
    mins = e.groupBy(F.col("hi").alias("v")).agg(F.min("lo").alias("m"))
    # edges may repeat; the distinct rides the join's own shuffle on lo
    return (
        e.repartition("lo")
        .distinct()
        .join(mins.hint("shuffle_hash"), F.col("lo") == F.col("v"), "left")
        .select(
            F.coalesce("m", "lo").alias("lo"), "hi", (F.col("m") < F.col("lo")).alias("_large")
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """(id, cluster_id) for every vertex appearing in ``edges``.

    cluster_id = min vertex id of the component (ids: any orderable type).
    A round is one large-star plus one small-star step; a 1,000-vertex path
    with its minimum at one end takes 11 rounds (⌈log₂ n⌉, plus the round
    that sees no change).  Raises ``RuntimeError`` when ``max_iter`` rounds
    end short of the fixpoint — a partial labelling is never returned.
    ``stats``, when given, gets ``rounds`` and ``changed``: per round, the
    edges large-star and small-star rewrote.
    """
    # ONE pass over ``edges``: an unpersisted upstream (the verify chain in
    # the pipeline) would otherwise run once per reference in this job
    e = edges.select(
        F.least(src, dst).alias("lo"), F.greatest(src, dst).alias("hi")
    ).localCheckpoint(eager=True)
    changed: list[list[int]] = []
    for _ in range(max_iter):
        # observed at the top of the round: an observation below the join
        # is pruned with it when the edge set is empty
        obs = Observation()
        small = (
            large_star(e)
            .withColumn("m", F.min("lo").over(Window.partitionBy("hi")))
            .observe(
                obs,
                F.count_if("_large").alias("large"),
                F.count_if(F.col("m") < F.col("lo")).alias("small"),
            )
        )
        # small-star: emit (m, hi) and (m, lo); for lo == m the second
        # repeats the first and the next round's distinct drops it; the
        # previous round's edges are released once this one is materialized
        smaller = F.when(F.col("m") < F.col("lo"), F.col("lo")).otherwise(F.col("hi"))
        prev, e = e, small.select(
            F.col("m").alias("lo"), F.explode(F.array("hi", smaller)).alias("hi")
        ).localCheckpoint(eager=True)
        _release(prev)
        changed.append([obs.get[k] for k in ("large", "small")])
        if changed[-1] == [0, 0]:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds "
            f"(edges rewritten per round: {changed})"
        )
    if stats is not None:
        stats.update(rounds=len(changed), changed=changed)
    # star forest: both ends of every edge belong to its lo
    return e.select(
        F.explode(F.array("lo", "hi")).alias("id"), F.col("lo").alias("cluster_id")
    ).distinct()


def assign_clusters(
    all_ids: DataFrame,
    dup_edges: DataFrame,
    id_col: str = "image_id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Full-corpus (id, cluster_id): component label for connected rows,
    own id for singletons (left join keeps unmatched rows broadcast-free).
    ``stats`` is passed to ``connected_components``."""
    comps = connected_components(dup_edges, src, dst, max_iter=max_iter, stats=stats)
    return (
        all_ids.select(F.col(id_col))
        .join(comps.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    )


def cluster_sizes(clusters: DataFrame, id_col: str = "image_id") -> DataFrame:
    return clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
