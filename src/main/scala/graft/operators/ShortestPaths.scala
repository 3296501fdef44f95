package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{Checkpointing, Materialize}

/** Weighted single-source shortest paths — the distance complement of
  * [[Reachability]] ("how CHEAP is the best route", not just "within k
  * clicks"): link-distance features for crawl ranking, blast-radius
  * cost, dependency-depth analysis. Synchronous Bellman–Ford rounds
  * over non-negative INTEGER weights; exact arithmetic end to end (no
  * float dust), so "no distance improved this round" is an exact test
  * and doubles as the early exit (the [[PageRank.runUntilFixpoint]]
  * discipline).
  *
  * Per-round work rides the FRONTIER, not the graph: only nodes whose
  * distance improved last round relax their out-edges (a node re-enters
  * the frontier iff improved again — the delta-relaxation that makes
  * Bellman–Ford usable at scale), and the edge table never moves —
  * partitioned once on `src` and persisted, each round shuffles only
  * (node, dist) skeletons. Rounds cut lineage through the pluggable
  * [[Checkpointing]]; a round's dist and frontier cuts are both live
  * across the next round and released once it has replaced them.
  *
  * `maxRounds` bounds the hop length of considered paths: after R
  * rounds the result holds the exact shortest distance among paths of
  * at most R edges (the oracle mirror — a hop-bounded recursive CTE);
  * when the frontier drains before the bound, that IS the unbounded
  * shortest-path fixpoint (non-negative weights guarantee convergence
  * within |V|−1 rounds). Returns (result, rounds actually run).
  */
object ShortestPaths {

  /** @param edges     (src, dst, w) — `w` non-negative integral
    * @param sources   seed frame with a `node` column (distance 0)
    * @param maxRounds relaxation bound (>= 0; 0 = just the seeds)
    * @return ((node, dist) for every node reached within `maxRounds`
    *         hops — exact min over ≤maxRounds-edge paths; seeds at 0 —
    *         and the number of rounds actually run)
    */
  def run(edges: DataFrame, sources: DataFrame, maxRounds: Int,
          checkpointing: Checkpointing = Materialize.Local)
      : (DataFrame, Int) = {
    require(maxRounds >= 0, s"maxRounds=$maxRounds")
    val spark = edges.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val e = edges
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.DISK_ONLY)
    val seeds = checkpointing.cut(
      sources.select(col("node"), lit(0L).as("dist")).distinct(), "sp-dist")
    // the frontier starts as all seeds (every seed "improved" at round 0)
    var live = Seq(seeds)
    var dist = seeds.df
    var frontier = seeds.df
    var rounds = 0
    var i = 1
    var drained = frontier.isEmpty
    while (i <= maxRounds && !drained) {
      val relaxed = frontier
        .join(e, frontier("node") === e("src"))
        .select(e("dst").as("node"), (col("dist") + col("w")).as("__cand"))
        .groupBy(col("node")).agg(min(col("__cand")).as("__cand"))
      // one outer join both MERGES the round (min of old and candidate)
      // and DERIVES the next frontier (strict improvement) — the
      // improved flag rides the same shuffle as the merge
      val merged = dist.join(relaxed, Seq("node"), "full_outer")
        .select(col("node"),
          when(col("dist").isNull || col("__cand") < col("dist"),
            col("__cand")).otherwise(col("dist")).as("dist"),
          (col("dist").isNull || col("__cand") < col("dist"))
            .as("__improved"))
      val cut = checkpointing.cut(merged, "sp-dist")
      val next = checkpointing.cut(
        cut.df.filter(col("__improved")).select(col("node"), col("dist")),
        "sp-frontier")
      live.foreach(_.release())
      live = Seq(cut, next)
      frontier = next.df
      dist = cut.df.select(col("node"), col("dist"))
      rounds = i
      // an empty frontier is the exact fixpoint: nothing improved, so no
      // further round can improve anything (non-negative weights)
      drained = frontier.isEmpty
      i += 1
    }
    val out = checkpointing.cut(dist, "sp-out")
    live.foreach(_.release())
    e.unpersist()
    (out.df, rounds)
  }
}
