package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.similarity.Similarity

/** ANN scale benchmark: direct per-call IVF (train + full assignment per
  * query) vs the persisted cell-partitioned index (one-time build,
  * partition-pruned probes), plus recall@10 vs exact brute force.
  *
  * Deterministic synthetic corpus (per-id seeded Gaussians) written to
  * parquet first so both paths read the same on-disk table a real
  * warehouse would serve. Run with the corpus size as the first arg and
  * an optional artifact path as the second — the JSON line is then also
  * written there, so cited numbers (recall, probe shrink) stay
  * re-checkable without re-running:
  * `runMain graft.AnnBench 200000 ANNBENCH_r7.json`.
  */
object AnnBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val dim = 32
    val cpus = Tables.localCpus
    val spark: SparkSession = Tables.newSession("graft-annbench", s"local[$cpus]", cpus)
    import spark.implicits._

    // Clustered corpus (500 centers + noise): isotropic Gaussians are the
    // degenerate worst case for IVF (neighbors spread uniformly over
    // cells); real embedding spaces cluster, which is the assumption the
    // index exploits. Deterministic per id.
    val nCenters = 500
    val centers = Array.tabulate(nCenters) { c =>
      val r = new scala.util.Random(c * 9176L + 11L)
      Array.fill(dim)(r.nextGaussian() * 2.0)
    }
    def makeVec(id: Long): Array[Float] = {
      val r = new scala.util.Random(id * 2654435761L + 7L)
      val c = centers((id % nCenters).toInt)
      Array.tabulate(dim)(i => (c(i) + 0.5 * r.nextGaussian()).toFloat)
    }
    val bcCenters = spark.sparkContext.broadcast(centers)
    val genVec = udf { (id: Long) =>
      val r = new scala.util.Random(id * 2654435761L + 7L)
      val c = bcCenters.value((id % nCenters).toInt)
      Array.tabulate(dim)(i => (c(i) + 0.5 * r.nextGaussian()).toFloat)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-annbench").toString
    spark.range(n).select(col("id").as("vec_id"), genVec(col("id")).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/emb.parquet")
    val emb = spark.read.parquet(s"$dir/emb.parquet")

    def median3(f: => Unit): Double = {
      f // warm
      Seq.fill(3) { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
        .sorted.apply(1)
    }
    // serving-shaped: the probe vector arrives from the application (a
    // 1-row local frame), so each path's measurement is its own
    // corpus-side work — not a shared corpus scan to fetch the query
    def queryVec(id: Long) = Seq(Tuple1(makeVec(id))).toDF("qvec")

    // 256 cells / 8 probes — the pruning ratio (1/32 of the corpus per
    // probe) a real deployment sizes for; more cells also make the direct
    // path's per-call assignment honestly expensive, as it is at scale
    val cells = 256
    val table = s"graft_annbench_$n"
    for (t <- Seq(table, s"${table}_centroids"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    val t0 = System.nanoTime()
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", table,
      nCentroids = cells, lloydIters = 1, buckets = 8)
    val buildSec = (System.nanoTime() - t0) / 1e9

    val qids = Seq(1L, 17L, 4242L)
    val direct = median3 {
      qids.foreach(q => Similarity.ivfKnn(emb, queryVec(q), "vec_id", "embedding",
        k = 10, nCentroids = cells, probes = 8, lloydIters = 1).count())
    }
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val indexed = median3 {
      qids.foreach(q => Similarity.ivfProbePartitioned(spark, table, queryVec(q),
        "vec_id", "embedding", k = 10, probes = 8).count())
    }

    // recall@10 of the indexed probe vs exact brute force
    val recalls = qids.map { q =>
      val exact = Similarity.bruteForceKnn(emb, queryVec(q), "vec_id", "embedding", k = 10)
        .as[(Long, Double)].collect().map(_._1).toSet
      val approx = Similarity.ivfProbePartitioned(spark, table, queryVec(q),
        "vec_id", "embedding", k = 10, probes = 8)
        .as[(Long, Double)].collect().map(_._1).toSet
      exact.intersect(approx).size / 10.0
    }

    // grow the corpus 10% via retrain-free appends (one fixed-centroid
    // assignment pass), then re-probe: the daily-ingest serving shape
    val nApp = n / 10
    val newRows = spark.range(n, n.toLong + nApp)
      .select(col("id").as("vec_id"), genVec(col("id")).as("embedding"))
    val tA = System.nanoTime()
    Similarity.appendToIvfIndex(newRows, "vec_id", "embedding", table)
    val appendSec = (System.nanoTime() - tA) / 1e9
    val afterAppend = median3 {
      qids.foreach(q => Similarity.ivfProbePartitioned(spark, table, queryVec(q),
        "vec_id", "embedding", k = 10, probes = 8).count())
    }
    // an appended vector is immediately served: its own query returns it
    // top-1 (the FIRST appended id, valid for any nApp >= 1)
    val appQ = n.toLong
    val appendedTop1 = Similarity.ivfProbePartitioned(spark, table, queryVec(appQ),
      "vec_id", "embedding", k = 1, probes = 8)
      .as[(Long, Double)].collect().headOption.exists(_._1 == appQ)

    // int8-quantized tier, at SERVING dims: the per-vector scalars
    // (scale/offset/norm, 12 B) amortize over the dimension, so the
    // comparison runs on a 256-dim corpus — the regime the tier exists
    // for (a 32-dim index is barely worth compressing). Codes + scalars
    // in the probed cell table, raw vectors in the rerank sibling.
    val qn = n / 4
    val qdim = 256
    val qCenters = Array.tabulate(nCenters) { c =>
      val r = new scala.util.Random(c * 7177L + 3L)
      Array.fill(qdim)(r.nextGaussian() * 2.0)
    }
    val bcQCenters = spark.sparkContext.broadcast(qCenters)
    val genVecQ = udf { (id: Long) =>
      val r = new scala.util.Random(id * 2654435761L + 19L)
      val c = bcQCenters.value((id % nCenters).toInt)
      Array.tabulate(qdim)(i => (c(i) + 0.5 * r.nextGaussian()).toFloat)
    }
    spark.range(qn).select(col("id").as("vec_id"), genVecQ(col("id")).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embq.parquet")
    val embQ = spark.read.parquet(s"$dir/embq.parquet")
    // ids taken modulo the (smaller) quantized corpus so every probe is
    // non-empty at any n
    def queryVecQ(id: Long) = embQ.filter(col("vec_id") === id % qn)
      .select(col("embedding").as("qvec"))
    val qTable = s"graft_annbench_q$n"
    val qfTable = s"graft_annbench_qf$n"
    for (t <- Seq(qTable, s"${qTable}_raw", s"${qTable}_centroids",
        qfTable, s"${qfTable}_centroids"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndex(embQ, "vec_id", "embedding", qfTable,
      nCentroids = cells, lloydIters = 1, buckets = 8)
    val tQ = System.nanoTime()
    Similarity.writeIvfIndexQuantized(embQ, "vec_id", "embedding", qTable,
      nCentroids = cells, lloydIters = 1, buckets = 8)
    val qBuildSec = (System.nanoTime() - tQ) / 1e9
    val fullProbe = median3 {
      qids.foreach(q => Similarity.ivfProbePartitioned(spark, qfTable, queryVecQ(q),
        "vec_id", "embedding", k = 10, probes = 8).count())
    }
    val quantized = median3 {
      qids.foreach(q => Similarity.ivfProbeQuantized(spark, qTable, queryVecQ(q),
        "vec_id", "embedding", k = 10, probes = 8).count())
    }
    // recall of the quantized+rerank probe RELATIVE to the uncompressed
    // probe (the gate), over a wider query set than the timing loop
    val qRecalls = (qids ++ Seq(101L, 2025L, 31337L, 77L, 900L)).map { q =>
      val full = Similarity.ivfProbePartitioned(spark, qfTable, queryVecQ(q),
        "vec_id", "embedding", k = 10, probes = 8)
        .as[(Long, Double)].collect().map(_._1).toSet
      val quant = Similarity.ivfProbeQuantized(spark, qTable, queryVecQ(q),
        "vec_id", "embedding", k = 10, probes = 8)
        .as[(Long, Double)].collect().map(_._1).toSet
      full.intersect(quant).size.toDouble / full.size
    }
    def tableBytes(t: String): Long = {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      val loc = new org.apache.hadoop.fs.Path(meta.location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(loc).getLength
    }
    // probed-bytes ratio ≈ per-row size ratio of the two cell tables (the
    // probe reads the same pruned cells from each); the raw sibling is
    // touched only for the ~4k-row shortlist
    val shrink = tableBytes(qfTable).toDouble / tableBytes(qTable)

    // PQ tier on the same 256-dim corpus: m=32 subspaces of 8 dims → 32 B
    // codes, past int8's 4× ceiling
    val pqTable = s"graft_annbench_pq$n"
    for (t <- Seq(pqTable, s"${pqTable}_raw", s"${pqTable}_centroids", s"${pqTable}_pq"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    val tP = System.nanoTime()
    Similarity.writeIvfIndexPq(embQ, "vec_id", "embedding", pqTable,
      nCentroids = cells, lloydIters = 1, buckets = 8, m = 32)
    val pqBuildSec = (System.nanoTime() - tP) / 1e9
    val pqProbe = median3 {
      qids.foreach(q => Similarity.ivfProbePq(spark, pqTable, queryVecQ(q),
        "vec_id", "embedding", k = 10, probes = 8, shortlist = 100).count())
    }
    val pqRecalls = (qids ++ Seq(101L, 2025L, 31337L, 77L, 900L)).map { q =>
      val full = Similarity.ivfProbePartitioned(spark, qfTable, queryVecQ(q),
        "vec_id", "embedding", k = 10, probes = 8)
        .as[(Long, Double)].collect().map(_._1).toSet
      val pq = Similarity.ivfProbePq(spark, pqTable, queryVecQ(q),
        "vec_id", "embedding", k = 10, probes = 8, shortlist = 100)
        .as[(Long, Double)].collect().map(_._1).toSet
      full.intersect(pq).size.toDouble / full.size
    }
    val pqShrink = tableBytes(qfTable).toDouble / tableBytes(pqTable)

    // batched serving: 64 queries through ONE partition-pruned read +
    // shared rerank vs 64 sequential single probes — the amortization the
    // batch API exists for (per-probe driver latency vs one shared scan)
    // modulo the quantized corpus like queryVecQ, so batch and single
    // sides serve the SAME query set at any n
    val batchIds = (0L until 64L).map(_ % qn).distinct
    val batchQ = embQ.filter(col("vec_id").isin(batchIds: _*))
      .select(col("vec_id").as("probe_id"), col("embedding").as("qvec"))
    val pqBatch64 = median3 {
      Similarity.ivfProbePqBatch(spark, pqTable, batchQ,
        "vec_id", "embedding", "probe_id", k = 10, probes = 8,
        shortlist = 100).count()
    }
    val pqSingle64 = median3 {
      batchIds.foreach(q => Similarity.ivfProbePq(spark, pqTable, queryVecQ(q),
        "vec_id", "embedding", k = 10, probes = 8, shortlist = 100).count())
    }

    val json = f"""{"bench":"ann","n":$n,"dim":$dim,"index_build_sec":$buildSec%.2f,""" +
      f""""direct_3probe_sec":$direct%.2f,"indexed_3probe_sec":$indexed%.2f,""" +
      f""""speedup":${direct / indexed}%.1f,"recall_at_10":${recalls.sum / recalls.size}%.2f,""" +
      f""""append_rows":$nApp,"append_sec":$appendSec%.2f,""" +
      f""""indexed_after_append_sec":$afterAppend%.2f,"append_top1_self":$appendedTop1,""" +
      f""""quant_n":$qn,"quant_dim":$qdim,"quant_build_sec":$qBuildSec%.2f,""" +
      f""""quant_full_3probe_sec":$fullProbe%.2f,"quant_3probe_sec":$quantized%.2f,""" +
      f""""quant_recall_vs_full":${qRecalls.sum / qRecalls.size}%.3f,""" +
      f""""quant_probe_shrink":$shrink%.2f,""" +
      f""""pq_build_sec":$pqBuildSec%.2f,"pq_3probe_sec":$pqProbe%.2f,""" +
      f""""pq_recall_vs_full":${pqRecalls.sum / pqRecalls.size}%.3f,""" +
      f""""pq_probe_shrink":$pqShrink%.2f,""" +
      f""""pq_batch64_sec":$pqBatch64%.2f,"pq_single64_sec":$pqSingle64%.2f,""" +
      f""""batch_speedup":${pqSingle64 / pqBatch64}%.1f}"""
    println(json)
    // second arg = artifact path: persist the line so the cited numbers
    // are re-checkable without a re-run
    args.drop(1).headOption.foreach { path =>
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (json + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
