package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Checkpointing, Materialize}

/** k-CORE membership over an undirected simple graph — the robustness
  * complement of the other graph signals: a node's PageRank can be
  * farmed with pendant chains, but membership in the k-core (the
  * maximal subgraph where EVERY node keeps degree ≥ k inside it)
  * requires k mutually-supporting neighbors that themselves survive —
  * the classic dense-nucleus extractor for spam-ring and community-core
  * detection.
  *
  * Algorithm: iterative peeling — drop every node with current degree
  * < k, recompute degrees on the surviving subgraph, repeat to the
  * fixpoint. Each round is one aggregation + one semi-join on the
  * (persisted, canonicalized) edge skeletons; lineage cuts per round
  * via the pluggable [[Checkpointing]]; EARLY EXIT the first round
  * nothing is dropped. Rounds are bounded by the graph's degeneracy
  * ordering depth — in practice a handful; the fixpoint is unique
  * (peeling is confluent: the k-core is a closure operator, so drop
  * order never matters — which is also why any engine computing the
  * same fixpoint agrees row-for-row).
  */
object KCore {

  /** Nodes of the k-core, with their WITHIN-CORE degree. */
  def membership(edges: DataFrame, k: Int,
                 maxRounds: Int = 64,
                 checkpointing: Checkpointing = Materialize.Local)
      : DataFrame = {
    require(k >= 1, s"k=$k")
    require(maxRounds >= 1, s"maxRounds=$maxRounds")
    val und0 = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    var und = checkpointing.cut(und0, "kcore-edges")
    // carried forward: the previous round's cut is released as soon as
    // the next one lands, so its frame is never re-counted
    var prevCount = und.df.count()
    var round = 0
    var stable = false
    while (round < maxRounds && !stable) {
      val deg = und.df.select(col("a").as("node"))
        .union(und.df.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("node")
      val next = checkpointing.cut(
        und.df.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
          .select("a", "b"),
        "kcore-edges")
      und.release()
      // fixpoint probe: the edge count is monotone non-increasing, so
      // equality means no node fell below k this round
      val n = next.df.count()
      stable = n == prevCount
      prevCount = n
      und = next
      round += 1
    }
    // an unconverged result is NOT the k-core — fail loudly (adversarial
    // chains peel one layer per round; the caller raises maxRounds)
    if (!stable) {
      und.release()
      throw new IllegalStateException(s"KCore.membership: no fixpoint " +
        s"after $maxRounds rounds — raise maxRounds")
    }
    val out = checkpointing.cut(
      und.df.select(col("a").as("node"))
        .union(und.df.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("core_deg")),
      "kcore-out")
    und.release()
    out.df
  }
}
