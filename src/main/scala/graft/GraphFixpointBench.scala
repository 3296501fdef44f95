package graft

import org.apache.spark.sql.functions._

/** Fixpoint-early-exit evidence for the iterative graph tier (g01/g02
  * are 40% of suite cpu — the r17 verdict's task 3): on a graph whose
  * vector CONVERGES on the scaled-integer grid before the fixed budget,
  * [[graft.operators.PageRank.runUntilFixpoint]] /
  * [[graft.operators.Hits.runUntilFixpoint]] stop at the exact-integer
  * fixpoint and skip the remaining iterations — result bit-identical to
  * the fixed path by construction (spec-pinned), wall ∝ iterations
  * actually run.
  *
  * Two cells ×2 operators:
  *  - `regular`: a 2-regular graph (uniform rank IS the fixpoint —
  *    detected at iteration 2 of a 20-iteration budget);
  *  - `random`: a pseudo-random 3-out graph at scale=1e6 (coarser grid →
  *    the power-method tail rounds to a fixpoint mid-budget; at the
  *    default 1e12 a generic graph's exact fixpoint sits past ~100
  *    iterations, the honest caveat — the early exit pays off on
  *    structured/converged graphs and coarse grids, never hurts).
  *
  * Usage: `runMain graft.GraphFixpointBench [nodes] [out]` (defaults
  * 200000 GRAPHFIXBENCH_r18.json).
  */
object GraphFixpointBench {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(200000)
    val out = args.lift(1).getOrElse("GRAPHFIXBENCH_r18.json")
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-fixpoint-bench", s"local[$cpus]", cpus)
    import spark.implicits._

    // 2-regular: i → i+1, i → i+2 (mod n) — every node indeg=outdeg=2
    val regular = spark.range(n).select(col("id").as("src"),
        ((col("id") + 1) % n).as("dst"))
      .union(spark.range(n).select(col("id").as("src"),
        ((col("id") + 2) % n).as("dst")))
    // pseudo-random 3-out: deterministic multiplicative hash targets
    val random = spark.range(n).select(explode(array(
        (col("id") * 2654435761L % n).as("a"),
        (col("id") * 2246822519L % n).as("b"),
        (col("id") * 3266489917L % n).as("c"))).as("dst"),
      col("id").as("src"))

    def time[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    val cells = Seq(
      ("pagerank_regular", 1e12, regular, 20),
      ("pagerank_random_coarse", 1e6, random, 60)).map {
      case (name, scale, edges, budget) =>
        val (tFixed, _) = time {
          graft.operators.PageRank.run(edges, budget, scale = scale)
            .agg(sum("rank_scaled")).head() }
        val (tFp, used) = time {
          val (df, k) = graft.operators.PageRank.runUntilFixpoint(
            edges, budget, scale = scale)
          df.agg(sum("rank_scaled")).head(); k }
        println(s"[fixbench] $name fixed($budget)=${tFixed}s " +
          s"fixpoint=${tFp}s used=$used")
        f""""$name":{"fixed_iters":$budget,"fixed_s":$tFixed%.2f,""" +
          f""""fixpoint_s":$tFp%.2f,"iters_used":$used}"""
    } ++ Seq(("hits_regular", regular, 15)).map { case (name, edges, budget) =>
      val (tFixed, _) = time {
        graft.operators.Hits.run(edges, budget)
          .agg(sum("hub_scaled")).head() }
      val (tFp, used) = time {
        val (df, k) = graft.operators.Hits.runUntilFixpoint(edges, budget)
        df.agg(sum("hub_scaled")).head(); k }
      println(s"[fixbench] $name fixed($budget)=${tFixed}s " +
        s"fixpoint=${tFp}s used=$used")
      f""""$name":{"fixed_iters":$budget,"fixed_s":$tFixed%.2f,""" +
        f""""fixpoint_s":$tFp%.2f,"iters_used":$used}"""
    }

    val json = s"""{"metric":"graph_fixpoint","nodes":$n,"cpus":$cpus,""" +
      cells.mkString(",") + "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(json)
    spark.stop()
  }
}
