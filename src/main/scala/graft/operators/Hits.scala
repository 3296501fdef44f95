package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.pipeline.{Checkpointing, Materialize}

/** HITS (Kleinberg 1999) hubs-and-authorities over a link graph — the
  * complement of [[PageRank]]'s single authority signal: a crawl
  * frontier wants BOTH "pages many good pages cite" (authorities: where
  * the content is) and "pages that cite many good pages" (hubs: where
  * to find MORE content — directory/index pages that PageRank
  * structurally under-ranks because their inlinks are few).
  *
  * Same determinism engineering as [[PageRank]] (ranks feed back across
  * iterations, so the §5 float discipline alone is not enough): hub and
  * authority vectors are carried as SCALED INTEGERS (× `scale`). Each
  * half-step is an exact integer sum over edges; the classical L2
  * normalization is replaced by SUM normalization (identical ranking —
  * normalization in HITS only prevents magnitude drift) computed as one
  * fixed double expression over two exact integers, rounded back to the
  * integer grid. Every value after every iteration is bit-identical on
  * Spark and in the generated DuckDB oracle (g02).
  *
  * Scale shape: the edge table never moves — it is partitioned ONCE on
  * `src` for the authority half-step and ONCE on `dst` for the hub
  * half-step (two persisted copies; edges are (long, long) skeletons,
  * so 2× an 8-byte-pair table, not 2× the corpus), and each iteration
  * shuffles only the (node, value) vector. Normalization totals are
  * broadcast 1-row aggregates INSIDE the plan, never driver collects;
  * lineage cuts ride the pluggable [[Checkpointing]] policy (Local
  * default; Reliable(dir) survives executor loss on preemptible
  * fleets), EVERY iteration: each HITS half-step consumes its parent
  * vector TWICE (the normalization total's broadcast job plus the join), so
  * an uncut chain re-executes ancestors ~4^k times across k iterations
  * (measured: 48 s for 4 iterations on a 6k-node graph at every-3,
  * 2 s at every-1). The vector being materialized is (node, long) —
  * at any corpus scale, cutting it each iteration is cheaper than one
  * re-execution of a half-step.
  */
object Hits {

  /** Hub/authority scores after `iters` full iterations (authority
    * half-step then hub half-step, the classical order). `edges` needs
    * `src`/`dst`; multi-edges count multiply (pre-`distinct` for
    * simple-graph semantics). Returns
    * (node, hub_scaled, auth_scaled, hub, auth). Lineage is cut on each
    * half-step's RAW aggregate every iteration (see core).
    */
  def run(edges: DataFrame, iters: Int, scale: Double = 1e12,
          checkpointing: Checkpointing = Materialize.Local): DataFrame =
    core(edges, iters, scale, checkpointing, fixpoint = false)._1

  /** [[run]] that STOPS once a full iteration is a FIXPOINT of BOTH
    * vectors — hub and authority unchanged bit-for-bit on the scaled-
    * integer grid (an exact comparison; once one full iteration
    * reproduces both vectors, every further iteration does too, so the
    * result equals `run(edges, k)` for ANY k >= the stop point —
    * spec-pinned). The PRODUCTION entry for real converging graphs;
    * fixed-iteration [[run]] remains for the unrolled g02 oracle.
    * Cuts already happen every iteration here (see class doc); the
    * previous iteration's cuts are released only after the comparison
    * reads them. Returns
    * (scores, iterations actually run — `maxIters` if never converged).
    */
  def runUntilFixpoint(edges: DataFrame, maxIters: Int,
                       scale: Double = 1e12,
                       checkpointing: Checkpointing = Materialize.Local)
      : (DataFrame, Int) =
    core(edges, maxIters, scale, checkpointing, fixpoint = true)

  private def core(edges: DataFrame, maxIters: Int, scale: Double,
                   checkpointing: Checkpointing, fixpoint: Boolean): (DataFrame, Int) = {
    require(maxIters >= 1)
    val spark = edges.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    // distinct column names per copy: both derive from the same frame,
    // and the vector joining one then the other would otherwise trip
    // Spark's ambiguous-self-join detection
    val eSrc = edges.select(col("src").as("e_src"), col("dst").as("e_dst"))
      .repartition(parts, col("e_src")).persist(StorageLevel.DISK_ONLY)
    val eDst = edges.select(col("src").as("f_src"), col("dst").as("f_dst"))
      .repartition(parts, col("f_dst")).persist(StorageLevel.DISK_ONLY)
    val nodes = eSrc.select(col("e_src").as("node"))
      .union(eSrc.select(col("e_dst").as("node")))
      .distinct()
      .persist(StorageLevel.DISK_ONLY)
    val n = nodes.count()
    // an edgeless graph would normalize by a zero total (NaN ranks) —
    // fail loudly instead
    require(n > 0, "Hits.run: edge frame has no nodes")

    def normalized(raw: DataFrame, outCol: String): DataFrame = {
      val tot = raw.agg(coalesce(sum(col("raw")), lit(0L)).as("__tot"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .withColumn(outCol, round(
          coalesce(col("raw"), lit(0L)).cast("double") /
            col("__tot").cast("double") * lit(scale)).cast("long"))
        .select(col("node"), col(outCol))
    }

    var h = nodes.withColumn("h_s", lit(math.round(scale / n)))
    var a: DataFrame = null
    var prevAraw: Materialize.Cut = null
    var prevHraw: Materialize.Cut = null
    var itersUsed = maxIters
    var i = 1
    var done = false
    while (i <= maxIters && !done) {
      // Cut the HALF-STEP AGGREGATE (node, raw) — not the normalized
      // vector — so the edge join+agg chain executes exactly ONCE per
      // half-step (optimization round 18): `normalized` consumes its
      // input twice (the sum-total broadcast's own job plus the caller's
      // materialization), so cutting only the normalized vector paid the
      // edge-scan chain 2× per half-step (measured: 4× total per
      // iteration). The raw skeleton is as small as the vector, and every
      // downstream read (the total, the nodes left-join, the next
      // half-step, the fixpoint compare) now reads a materialized frame.
      // The previous round's cuts stay live until the comparison below.
      val araw = checkpointing.cut(
        h.join(eSrc, h("node") === col("e_src"))
          .groupBy(col("e_dst").as("node")).agg(sum(col("h_s")).as("raw")),
        "hits-auth")
      a = normalized(araw.df, "a_s")
      val hraw = checkpointing.cut(
        a.join(eDst, a("node") === col("f_dst"))
          .groupBy(col("f_src").as("node")).agg(sum(col("a_s")).as("raw")),
        "hits-hub")
      h = normalized(hraw.df, "h_s")
      if (fixpoint) {
        // exact integer fixpoint over the two materialized RAW skeletons:
        // normalization is a deterministic function of the raw vector
        // (and the constant node set), so raw_i == raw_{i-1} for BOTH
        // half-steps implies a_i == a_{i-1} and h_i == h_{i-1} — the same
        // stop point the normalized comparison found, one compare earlier
        // in the chain. Raw frames omit zero-indegree nodes, but the
        // omitted set is EDGE-STRUCTURE-CONSTANT across iterations (a
        // node appears iff it has an in-edge — h/a cover every node each
        // round), so the inner join covers every row that can change and
        // the r18 count()-equality guards were provably always true —
        // dropped (optimization round 19, with the per-iteration compare
        // fused into ONE action: both half-steps' mismatch sets union
        // into a single isEmpty probe; this was 4 driver actions per
        // fixpoint iteration, now 1).
        if (prevAraw != null && {
          val aMis = araw.df
            .join(prevAraw.df.withColumnRenamed("raw", "__p"), Seq("node"))
            .filter(col("raw") =!= col("__p")).select(lit(1).as("__m"))
          val hMis = hraw.df
            .join(prevHraw.df.withColumnRenamed("raw", "__p"), Seq("node"))
            .filter(col("raw") =!= col("__p")).select(lit(1).as("__m"))
          aMis.union(hMis).isEmpty
        }) {
          itersUsed = i; done = true
        }
      }
      if (prevAraw != null) { prevAraw.release(); prevHraw.release() }
      prevAraw = araw; prevHraw = hraw
      i += 1
    }
    val out = checkpointing.cut(
      h.join(a, Seq("node"))
        .select(col("node"), col("h_s").as("hub_scaled"),
          col("a_s").as("auth_scaled"),
          (col("h_s") / lit(scale)).as("hub"),
          (col("a_s") / lit(scale)).as("auth")),
      "hits-out")
    prevAraw.release(); prevHraw.release()
    eSrc.unpersist(); eDst.unpersist(); nodes.unpersist()
    (out.df, itersUsed)
  }
}
