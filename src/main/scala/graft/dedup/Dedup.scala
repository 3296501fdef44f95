package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.{Checkpointing, Materialize}

/** Deduplication operators for LLM training-data pipelines.
  *
  * Scale design: nothing here ever joins n×n on content. Exact dedup
  * collapses duplicates map-side, so only one surviving candidate per
  * distinct content per partition crosses the wire; MinHash LSH shuffles
  * (band, bucket) keys so candidate generation is linear in corpus size plus
  * bucket collisions; Jaccard verification touches only candidate pairs.
  *
  * Implementation is split along the family seams — [[DedupMinhash]]
  * (LSH candidates + band index), [[DedupHamming]] (SimHash radius +
  * hamming index), [[DedupNgram]] (gram sets + contamination),
  * [[DedupSpans]] (span/line/substring corpus-first winners),
  * [[DedupSemantic]] (embedding dedup + IVF probes) — mixed back into this
  * single public object, so the API surface is unchanged: everything is
  * `Dedup.<name>`. This spine keeps the members every seam shares: exact
  * dedup and its cross-run registry, connected components
  * ([[dupClusters]]), and the Jaccard verify arithmetic.
  */
// Serializable because seam-trait methods are INSTANCE methods: a UDF
// lambda that calls one (e.g. minhashSignatureFromText's signatureOf)
// captures `this` — harmless, since a 2.13 serializable module ships as a
// ModuleSerializationProxy (class ref only, no fields) and readResolves
// back to this singleton on executors.
object Dedup extends DedupMinhash with DedupHamming with DedupNgram
    with DedupSpans with DedupSemantic with Serializable {

  // Precompiled: String.split(regex) recompiles the pattern per call,
  // which dominates in per-row UDF loops. Shared by every seam's
  // tokenizing kernel (the three tokenizations must agree — see
  // minhashSignatureFromText).
  private[dedup] val WS = java.util.regex.Pattern.compile("\\s+")

  /** Exact dedup: keep the lowest-id row per distinct content hash.
    * A `min_by` hash aggregation, not a window: the partial (map-side)
    * aggregate collapses duplicates before the exchange, so at most one
    * candidate row per distinct content per partition is shuffled — a
    * window over the hash would sort-shuffle EVERY row, duplicates
    * included, which is exactly the waste a 100 TB dedup pass can't afford.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(sha2(col(textCol).cast("binary"), 256).as("__h"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
      .select(cols.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** Exact dedup keeping the BEST replica per content group instead of the
    * smallest id — the retention policy a crawl actually wants when
    * replicas differ in metadata (fetch recency, source reputation, decode
    * health): keep the row maximizing `scoreCol` (numeric), ties broken by
    * smallest `idCol`, so the choice is total and deterministic. Same
    * map-side-collapsing aggregation contract as [[exact]]: min_by over a
    * (−score, id) ordering struct (planned as a SortAggregate with a
    * partial phase, spec-pinned), NOT a window — at most one candidate
    * row per distinct content per partition crosses the wire. A NULL
    * score ranks LAST (it coalesces to the ordering's positive
    * infinity) — without the coalesce, null sorts first in the struct
    * ordering and an unscored replica would beat every real-scored one,
    * the opposite of any sensible retention policy.
    */
  def exactKeepBest(df: DataFrame, textCol: String, idCol: String,
                    scoreCol: Column): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(sha2(col(textCol).cast("binary"), 256).as("__h"))
      .agg(min_by(struct(cols.map(col): _*),
        struct(coalesce(negate(scoreCol.cast("double")),
          lit(Double.PositiveInfinity)), col(idCol))).as("__r"))
      .select(cols.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** Connected components over dup pairs (a, b): every node labeled with
    * its component's minimum id — the canonical "keep one per cluster"
    * semantics, transitive across chains (a~b, b~c ⇒ one cluster).
    *
    * Each round does (1) one-hop min-label propagation across edges and
    * (2) a pointer-jump (label(id) := label(label(id))), which doubles the
    * propagation reach per round → O(log diameter) rounds even on long
    * chains, the property that makes iterative CC viable on real dup
    * graphs (a pure 1-hop loop needs diameter rounds and never finishes a
    * 10k-node chain). All driver-side state is the loop counter; labels
    * stay distributed.
    *
    * Iteration hygiene for scale: each round's labels are eagerly
    * checkpointed — the plan stays constant-depth instead of accreting
    * every prior join (unbounded lineage = quadratic planning time and
    * stack overflows at real iteration counts), and because the new round
    * is materialized with truncated lineage before the old one is
    * unpersisted, executors never hold more than two label sets and no
    * unpersist can strand an unrecomputable descendant. Spec-checked on a
    * 10k-node chain and a random graph vs a driver union-find.
    *
    * Fault-tolerance: lineage truncation is the point of the per-round
    * checkpoint, so the two modes trade speed for recoverability. The
    * default `localCheckpoint` stores blocks unreplicated on executors —
    * fastest, but one executor lost mid-iteration (spot preemption,
    * dynamic allocation) fails the job. Pass
    * `checkpointing = Materialize.Reliable(dir)` (an HDFS path at cluster
    * scale) to spill each round's labels as parquet under that directory
    * instead: rounds survive any executor loss, and each round's files are
    * DELETED as soon as the next round supersedes them — only THIS run's
    * final round files remain (they back the returned DataFrame; the
    * caller owns deleting the directory once done with the result). Every
    * cut has its own unique path (see [[graft.pipeline.Materialize]]), so
    * runs sharing a directory never touch each other's files. Long CC runs
    * on preemptible clusters should always set it.
    *
    * Small-graph fast path: a dup-edge set at or under `driverBound`
    * edges (default 2¹⁸ ≈ 262k — sized for the COLLECTED form, boxed Rows
    * plus the union-find map, ~50-100 MB of driver heap worst-case with
    * string ids, not just the 4 MB of raw id pairs) is resolved by a
    * driver union-find with identical min-label semantics instead of
    * paying ~15 Spark jobs of iteration overhead; the distributed
    * rounds — the 100 TB path — engage above the bound (or always, with
    * `driverBound = 0`, which is how the iteration specs pin them). The
    * fast path writes no checkpoint files and its result is a plain
    * local DataFrame.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 32,
                  checkpointing: Checkpointing = Materialize.Local,
                  driverBound: Long = 1L << 18): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col("a"), col("b"))
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct().cache()
    val edgeCnt = edges.count()
    if (edgeCnt <= driverBound) {
      // driver union-find with the SAME min-label semantics (Spark's
      // min(): numeric for numbers, lexicographic for strings)
      def lt(x: Any, y: Any): Boolean = (x, y) match {
        case (a: Long, b: Long) => a < b
        case (a: Int, b: Int) => a < b
        case (a: String, b: String) => a < b
        case (a: java.lang.Number, b: java.lang.Number) => a.doubleValue < b.doubleValue
        case _ => x.toString < y.toString
      }
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val rows = edges.collect()
      edges.unpersist()
      for (r <- rows) {
        val (ra, rb) = (find(r.get(0)), find(r.get(1)))
        if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
        parent.getOrElseUpdate(r.get(0), find(r.get(0)))
        parent.getOrElseUpdate(r.get(1), find(r.get(1)))
      }
      val nodes = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toSet
      val idType = pairs.schema("a").dataType
      val out = nodes.toSeq.map(n => org.apache.spark.sql.Row(n, find(n)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("label", idType))))
    }
    val seed = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")).cache()
    var labels = new Materialize.Cut(seed, () => seed.unpersist())
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val l = labels.df
      val viaEdges = edges.join(l, edges("b") === l("id"))
        .select(edges("a").as("id"), col("label"))
      val hop = l.select(col("id"), col("label")).union(viaEdges)
        .groupBy("id").agg(min("label").as("label")).cache()
      val jumped = hop.alias("l")
        .join(hop.select(col("id").as("lid"), col("label").as("plabel")).alias("p"),
          col("l.label") === col("p.lid"), "left")
        .select(col("l.id").as("id"),
          least(col("l.label"), coalesce(col("p.plabel"), col("l.label"))).as("label"))
      // eager, truncates lineage either way; Reliable survives executor
      // loss (see scaladoc)
      val next = checkpointing.cut(jumped, "cc-labels")
      val changed = next.df.alias("n").join(l.alias("l"), "id")
        .filter(col("n.label") =!= col("l.label")).limit(1).count()
      // the previous round is unreferenced once `changed` is computed —
      // release it so the dir never holds more than two rounds
      hop.unpersist()
      labels.release()
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    labels.df
  }

  /** Dup-cluster AUDIT — "what did dedup actually find": the cluster-size
    * histogram over the connected components of a dup-pair set, the
    * observability report a pipeline owner reads after a dedup run (a
    * sudden mega-cluster = a boilerplate flood or a broken shingle
    * config; a wall of pairs = replica mirrors). Labels come from
    * [[dupClusters]] (same knobs); sizes partial-aggregate on the label,
    * the histogram on the size — both unskewed group-bys. Only docs that
    * appear in a pair are counted: singletons have no cluster.
    *
    * Returns (cluster_size, n_clusters, n_docs = size × clusters).
    */
  def dupClusterProfile(pairs: DataFrame, maxIter: Int = 32,
                        checkpointing: Checkpointing = Materialize.Local,
                        driverBound: Long = 1L << 18): DataFrame =
    dupClusters(pairs, maxIter, checkpointing, driverBound)
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))


  /** Create an empty content-hash registry table for
    * [[dedupAgainstRegistry]] — one `content_hash` column, bucketed by it
    * so every later anti-join and append co-locates without shuffling the
    * (ever-growing) registry side.
    */
  def createRegistry(spark: org.apache.spark.sql.SparkSession, table: String,
                     buckets: Int = 32): Unit = {
    import spark.implicits._
    graft.sources.Warehouse.writeBucketed(
      Seq.empty[String].toDF("content_hash"), table, "content_hash", buckets)
  }

  /** Incremental exact dedup across pipeline RUNS: dedup `batch` within
    * itself (keep-min, [[exact]]'s shape), drop every document whose
    * content hash is already in the persisted registry table, and (unless
    * `update = false`) append the survivors' hashes so the NEXT run sees
    * them. This is the batch complement of the streaming intake's
    * watermark-bounded dedup ([[graft.streaming.EventStreams.curateDocs]]):
    * a daily-growing corpus runs curate() per batch and this pass against
    * the registry of everything already ingested — the same
    * build-once/grow-incrementally contract as
    * [[graft.similarity.Similarity.appendToIvfIndex]].
    *
    * Scale shape: the batch side collapses to one candidate per distinct
    * content map-side before anything touches the registry; the anti-join
    * is keyed on the hash against a registry BUCKETED on it (appends keep
    * the bucket spec from the table's catalog entry), so the registry —
    * the side that grows without bound — is never shuffled, only the
    * (bounded) day's batch is. Text never joins; only 64-char hashes.
    *
    * Failure contract: with `update = true` the anti-join against the big
    * registry executes exactly ONCE, inside the append job; the returned
    * frame is then derived from the append's own delta files (a fixed
    * path list), so recomputation after executor loss — or a caller
    * re-reading the result long after later batches have grown the
    * registry — can never re-run the anti-join against a registry that
    * already contains this batch's hashes and silently lose rows. Single
    * writer per registry table at a time.
    */
  def dedupAgainstRegistry(batch: DataFrame, textCol: String, idCol: String,
                           registryTable: String, update: Boolean = true): DataFrame = {
    val spark = batch.sparkSession
    val withinBatch = exact(batch, textCol, idCol)
      .withColumn("content_hash", sha2(col(textCol).cast("binary"), 256))
    val fresh = withinBatch.join(spark.table(registryTable),
      Seq("content_hash"), "left_anti")
    if (!update) fresh.drop("content_hash")
    else {
      val delta = graft.sources.Warehouse.appendBucketedWithDelta(
        fresh.select(col("content_hash")), registryTable, "content_hash")
      if (delta.isEmpty) withinBatch.filter(lit(false)).drop("content_hash")
      else withinBatch.join(spark.read.parquet(delta: _*),
        Seq("content_hash"), "left_semi").drop("content_hash")
    }
  }

  /** Jaccard similarity of two precomputed distinct-gram arrays. */
  def jaccardOfSets(ga: Column, gb: Column): Column = {
    val inter = size(array_intersect(ga, gb)).cast("double")
    inter / (size(ga) + size(gb) - inter).cast("double")
  }

  /** Word n-gram Jaccard of two raw text columns — convenience for single
    * pairs; use [[ngramSet]]+[[jaccardOfSets]] around joins.
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 2): Column =
    jaccardOfSets(ngramSet(a, n), ngramSet(b, n))

  /** LEAKAGE-SAFE train/val/test split — the dedup-aware refinement of
    * the content-hash split (t07): a plain per-document split puts two
    * NEAR-duplicates of the same document on opposite sides of the
    * train/eval fence (benchmark leakage, the exact failure
    * decontamination audits hunt), because near-dups hash differently.
    * Here the unit of assignment is the NEAR-DUP CLUSTER: duplicate
    * pairs close into components ([[dupClusters]] — min-label,
    * pointer-jumping), every member inherits its cluster's label
    * (singletons label themselves), and the split is the t07 md5-bucket
    * convention applied to the LABEL — so an entire cluster lands in one
    * split, deterministically, at any partitioning.
    *
    * `pairs` is any duplicate-pair frame with (a, b) columns — exact,
    * MinHash-banded, SimHash, cosine, edit-distance: the caller picks
    * the dup definition; this operator guarantees the split respects it.
    *
    * Scale shape: the CC engine's (bounded rounds over edge skeletons);
    * one left join of ids against the label frame; the split expression
    * is row-local. Returns `ids` plus (`cluster`, `split`).
    */
  def leakageSafeSplit(ids: DataFrame, idCol: String, pairs: DataFrame,
                       trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"leakageSafeSplit: trainPct=$trainPct valPct=$valPct")
    val lab = dupClusters(pairs)
      .select(col("id").as("__lid"), col("label").as("__label"))
    ids.join(lab, ids(idCol) === col("__lid"), "left")
      .withColumn("cluster", coalesce(col("__label"), ids(idCol)))
      .withColumn("split", graft.text.TextOps.splitAssign(
        col("cluster").cast("string"), trainPct, valPct))
      .drop("__lid", "__label")
  }
}
