package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{Checkpointing, Materialize}

/** Bounded-hop BFS reachability over a link graph — the crawl question
  * PageRank and HITS don't answer: "which pages are WITHIN k clicks of
  * these seeds, and how few clicks" (scoping a focused crawl, blast-
  * radius analysis for a takedown, link-distance features). Returns one
  * row per reachable node with its MINIMUM hop count — seeds at 0.
  *
  * Standard distributed frontier expansion: each round joins the
  * CURRENT frontier (nodes first reached last round) against the edge
  * table and anti-joins the visited set, so a node is expanded exactly
  * once and per-round work is proportional to the frontier, not the
  * graph. The edge table is the big side and never moves — partitioned
  * once on `src` and persisted, each round shuffles only (node, hops)
  * skeletons (the PageRank discipline). Rounds cut lineage through the
  * pluggable [[Checkpointing]] (frontier and visited are cut apart, and
  * each cut is released once the next round replaces it; the last
  * visited cut IS the result), and the loop EXITS EARLY when a frontier
  * drains: on a
  * graph with diameter d, maxHops = 20 costs min(d, 20) rounds, and the
  * per-round `count()` action doubles as the frontier materialization
  * the next join needs anyway.
  */
object Reachability {

  /** @param edges    link frame with `src`/`dst` columns
    * @param sources  seed frame with a `node` column
    * @param maxHops  expansion bound (>= 0; 0 = just the seeds)
    * @return (node, hops) — minimum hops from any seed, seeds at 0
    */
  def bounded(edges: DataFrame, sources: DataFrame, maxHops: Int,
              checkpointing: Checkpointing = Materialize.Local)
      : DataFrame = {
    require(maxHops >= 0, s"maxHops=$maxHops")
    val spark = edges.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val e = edges.select(col("src"), col("dst"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.DISK_ONLY)
    var visited = checkpointing.cut(
      sources.select(col("node"), lit(0L).as("hops")).distinct(),
      "reach-visited")
    // the seeds are both the first visited set and the first frontier
    var frontier = visited
    var h = 1L
    var drained = frontier.df.isEmpty
    while (h <= maxHops && !drained) {
      val next = frontier.df
        .join(e, frontier.df("node") === e("src"))
        .select(e("dst").as("node"))
        .distinct()
        .join(visited.df.select("node"), Seq("node"), "left_anti")
        .withColumn("hops", lit(h))
      // the cut materializes the frontier: the emptiness probe and the
      // next round's two joins then all read the cut blocks, not the
      // join lineage
      val cut = checkpointing.cut(next, "reach-frontier")
      if (frontier ne visited) frontier.release()
      frontier = cut
      drained = frontier.df.isEmpty
      if (!drained) {
        val v = checkpointing.cut(visited.df.unionByName(frontier.df),
          "reach-visited")
        visited.release(); visited = v
      }
      h += 1
    }
    if (frontier ne visited) frontier.release()
    e.unpersist()
    visited.df
  }
}
