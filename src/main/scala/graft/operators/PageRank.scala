package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{Checkpointing, Materialize}

/** PageRank over a link graph — the crawl-side authority signal the
  * public curation pipelines use for host-level quality ranking (the
  * Common-Crawl host-ranking family): fixed-iteration power method with
  * damping and dangling-mass redistribution.
  *
  * DETERMINISM is engineered in (the §5 float discipline taken one step
  * further, because ranks feed back across iterations): the rank vector
  * is carried as a SCALED INTEGER (`rank_scaled` = rank × `scale`,
  * default 1e12) the whole way — per-edge contributions round to
  * integers before summation, the dangling mass is an exact integer sum,
  * and each iteration's update rounds back to the integer grid. Integer
  * sums are exact and order-independent at any partitioning on any
  * engine, and every floating-point step in between is a fixed
  * left-to-right expression over exactly-representable integer inputs —
  * so the vector is BIT-identical on Spark and in the generated DuckDB
  * oracle after every iteration, and the final `rank = rank_scaled /
  * scale` division is too. Quantization error is ≤ ~nodes/scale per
  * iteration — far below ranking resolution at 1e12.
  *
  * Scale shape: the edge table is the big side and it never moves — it
  * is hash-partitioned ONCE on `src` and persisted, so each iteration
  * shuffles only the (node, rank) vector (join key + the `dst`
  * aggregation, both partial-aggregated map-side). The dangling mass is
  * a broadcast 1-row aggregate INSIDE the plan — a driver collect per
  * iteration would re-execute the rank lineage back to the last
  * checkpoint every iteration. Lineage is cut EVERY iteration via the
  * pluggable [[Checkpointing]] policy — Local (default) for stable
  * executors, Reliable(dir) on a preemptible fleet where a long run must
  * survive executor loss — so plan depth stays constant at any iteration
  * count, and because the vector is consumed twice per iteration (the
  * dangling broadcast's job plus the next cut), an uncut chain would
  * re-execute ancestors ~2^k across k iterations.
  */
object PageRank {

  /** Ranks after `iters` power iterations. `edges` needs `src`/`dst`
    * columns; nodes are the distinct endpoints; multi-edges count
    * multiply (pre-`distinct` for simple-graph semantics). Returns
    * (node, rank_scaled, rank).
    */
  def run(edges: DataFrame, iters: Int, damping: Double = 0.85,
          scale: Double = 1e12,
          checkpointing: Checkpointing = Materialize.Local): DataFrame =
    core(edges, iters, damping, scale, checkpointing, fixpoint = false)._1

  /** [[run]] that STOPS once a full iteration is a FIXPOINT — the
    * scaled-integer grid makes "vector unchanged" an EXACT comparison
    * (no epsilon, no float dust), and once iteration i reproduces
    * iteration i−1's vector bit-for-bit, every further iteration does
    * too: the result equals `run(edges, k)` for ANY k >= the stop point
    * (spec-pinned). On real link graphs the power method converges on
    * the 1e-12 grid long before a safe fixed budget, so this is the
    * production entry; fixed-iteration [[run]] remains for callers
    * mirroring an unrolled oracle.
    *
    * Mechanics: every iteration's vector is cut (the vector is a
    * (node, long) skeleton — cutting it beats re-executing a half-step,
    * the [[Hits]] every-1 measurement), and the previous iteration's cut
    * is released only after the comparison reads it; the
    * comparison joins two materialized skeletons and short-circuits
    * (isEmpty). Returns (ranks, iterations actually run — `maxIters` if
    * no fixpoint was reached).
    */
  def runUntilFixpoint(edges: DataFrame, maxIters: Int,
                       damping: Double = 0.85, scale: Double = 1e12,
                       checkpointing: Checkpointing = Materialize.Local)
      : (DataFrame, Int) =
    core(edges, maxIters, damping, scale, checkpointing, fixpoint = true)

  private def core(edges: DataFrame, maxIters: Int, damping: Double,
                   scale: Double, checkpointing: Checkpointing,
                   fixpoint: Boolean)
      : (DataFrame, Int) = {
    require(maxIters >= 1 && damping > 0 && damping < 1)
    val spark = edges.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val e = edges.select(col("src"), col("dst"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.DISK_ONLY)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.DISK_ONLY)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.DISK_ONLY)
    val n = nodes.count()
    // an empty graph must fail loudly: scale/0 would seed Long.MaxValue
    // ranks and the dangling division would emit NaN — silent garbage
    require(n > 0, "PageRank.run: edge frame has no nodes")
    // the DANGLING node set is edge-structure-constant: compute it ONCE
    // (optimization round 18) instead of re-deriving it per iteration via
    // a ranks⨝outdeg left join — the per-iteration dangling mass then
    // reads the MATERIALIZED rank vector through a semi-join against this
    // skeleton, so the broadcast's own job never re-executes the
    // contribution chain (the withDeg frame was consumed twice per
    // iteration: once by the dangling aggregate's broadcast job, once by
    // the main materialization — each consumption re-ran the whole
    // iteration chain when the vector was not cut that round)
    val dangNodes = nodes.join(outdeg, nodes("node") === outdeg("src"),
        "left_anti")
      .persist(StorageLevel.DISK_ONLY)
    var ranks = checkpointing.cut(
      nodes.withColumn("rank_s", lit(math.round(scale / n))), "pr-rank")
    var itersUsed = maxIters
    var i = 1
    var done = false
    while (i <= maxIters && !done) {
      // dangling nodes donate their whole (already-integer) rank to the
      // uniform pool — kept as a broadcast 1-row frame, NOT a driver
      // collect; the semi-join reads the materialized vector, value-
      // identical to the former left-join + outdeg IS NULL filter
      val prev = ranks.df
      val dangRow = prev.join(dangNodes, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("rank_s")), lit(0L)).as("__dang"))
      // linked nodes split their rank across outlinks, each share
      // rounded to the integer grid before the exact sum (inner join ≡
      // the former left-join + outdeg IS NOT NULL filter)
      val contribs = prev.join(outdeg, prev("node") === outdeg("src"))
        .select(col("node"),
          round(col("rank_s") / col("outdeg")).cast("long").as("c"))
        .join(e, col("node") === e("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("in_c"))
      val updated = nodes.join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangRow))
        .withColumn("rank_s", round(
          lit((1.0 - damping) / n * scale) + lit(damping) *
            (coalesce(col("in_c"), lit(0L)) +
              col("__dang").cast("double") / lit(n.toDouble)))
          .cast("long"))
        .select(col("node"), col("rank_s"))
      // cut EVERY iteration (round 18): the vector is consumed twice per
      // iteration (the dangling broadcast's job + the next cut's job), so
      // an uncut chain re-executes ancestors ~2^k across k iterations —
      // the Hits every-1 measurement, now structural here too. The
      // materialized frame is a (node, long) skeleton: at any corpus
      // scale, one cut is cheaper than one chain re-execution.
      val cut = checkpointing.cut(updated, "pr-rank")
      // exact integer fixpoint test over two MATERIALIZED skeletons
      // (the node set is constant — nodes left-join — so the inner
      // join covers the whole vector)
      if (fixpoint && i > 1 && cut.df
            .join(prev.withColumnRenamed("rank_s", "__p"), Seq("node"))
            .filter(col("rank_s") =!= col("__p")).isEmpty) {
        itersUsed = i; done = true
      }
      ranks.release()
      ranks = cut
      i += 1
    }
    // materialize the final vector, then release the last round and the
    // iteration scaffolding (edges/outdeg/nodes) — without this every run
    // leaks three persisted frames into the CacheManager. The final cut
    // follows the same policy: under Reliable the returned frame is
    // file-backed, so a post-return executor loss can never invalidate it.
    val out = checkpointing.cut(
      ranks.df.select(col("node"), col("rank_s").as("rank_scaled"),
        (col("rank_s") / lit(scale)).as("rank")),
      "pr-out")
    ranks.release()
    e.unpersist(); outdeg.unpersist(); nodes.unpersist()
    dangNodes.unpersist()
    (out.df, itersUsed)
  }

  /** PERSONALIZED PageRank: the teleport vector concentrates on `seeds`
    * (uniform over them, zero elsewhere) instead of the whole node set —
    * rank becomes "authority AS SEEN FROM these pages", the
    * focused-crawl / related-pages / topic-sensitive ranking signal
    * (Haveliwala 2002). Dangling mass returns to the seeds too, so total
    * rank stays conserved on the seed-reachable subgraph and nodes the
    * seeds cannot reach hold rank 0 exactly (integer grid, no float
    * dust). Seeds need not appear in the edge list — they join the node
    * set and simply dangle.
    *
    * Deliberately a SEPARATE body from [[run]] rather than a shared
    * parameterized core: the uniform path's float expressions are
    * mirrored term-for-term by the g01 oracle, and factoring them
    * through a teleport column would reorder the IEEE operations and
    * break bit-identity. Same scaled-integer discipline, same
    * shuffle/broadcast/checkpoint shape (see [[run]]).
    */
  def personalized(edges: DataFrame, seeds: DataFrame, iters: Int,
                   damping: Double = 0.85, scale: Double = 1e12,
                   checkpointing: Checkpointing = Materialize.Local)
      : DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1)
    val spark = edges.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val e = edges.select(col("src"), col("dst"))
      .repartition(parts, col("src"))
      .persist(StorageLevel.DISK_ONLY)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.DISK_ONLY)
    val sd = seeds.select(col("node")).distinct()
      .withColumn("__seed", lit(1))
      .persist(StorageLevel.DISK_ONLY)
    val nSeeds = sd.count()
    require(nSeeds > 0, "PageRank.personalized: no seed nodes")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(sd.select(col("node")))
      .distinct()
      .persist(StorageLevel.DISK_ONLY)
    require(nodes.count() > 0, "PageRank.personalized: empty graph")
    // same round-18 shape as [[run]]'s core: constant dangling skeleton,
    // vector cut every iteration, chain executed once per iteration
    val dangNodes = nodes.join(outdeg, nodes("node") === outdeg("src"),
        "left_anti")
      .persist(StorageLevel.DISK_ONLY)
    var ranks = checkpointing.cut(
      nodes.join(sd, Seq("node"), "left")
        .withColumn("rank_s",
          when(col("__seed").isNotNull, lit(math.round(scale / nSeeds)))
            .otherwise(lit(0L)))
        .select(col("node"), col("rank_s")),
      "pr-rank")
    for (_ <- 1 to iters) {
      val prev = ranks.df
      val dangRow = prev.join(dangNodes, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("rank_s")), lit(0L)).as("__dang"))
      val contribs = prev.join(outdeg, prev("node") === outdeg("src"))
        .select(col("node"),
          round(col("rank_s") / col("outdeg")).cast("long").as("c"))
        .join(e, col("node") === e("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("in_c"))
      val updated = nodes.join(contribs, Seq("node"), "left")
        .join(sd, Seq("node"), "left")
        .crossJoin(broadcast(dangRow))
        .withColumn("rank_s", round(
          when(col("__seed").isNotNull,
            lit((1.0 - damping) / nSeeds * scale) + lit(damping) *
              (coalesce(col("in_c"), lit(0L)) +
                col("__dang").cast("double") / lit(nSeeds.toDouble)))
            .otherwise(lit(damping) * coalesce(col("in_c"), lit(0L))))
          .cast("long"))
        .select(col("node"), col("rank_s"))
      val cut = checkpointing.cut(updated, "pr-rank")
      ranks.release()
      ranks = cut
    }
    val out = checkpointing.cut(
      ranks.df.select(col("node"), col("rank_s").as("rank_scaled"),
        (col("rank_s") / lit(scale)).as("rank")),
      "pr-out")
    ranks.release()
    e.unpersist(); outdeg.unpersist(); nodes.unpersist(); sd.unpersist()
    dangNodes.unpersist()
    out.df
  }
}
