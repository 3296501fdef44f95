package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Scale validation for the near-dup pipeline: synthesizes `N` documents
  * (deterministic word salads) with a planted near-duplicate for every
  * tenth document (one word in ten mutated), runs
  * candidates→verify→threshold end to end, and reports recall, precision,
  * and wall time. Usage: `runMain graft.DedupBench [N] [megaBucket] [out]`.
  *
  * The optional second argument plants `megaBucket` IDENTICAL boilerplate
  * documents on top (ids ≥ 10·N) — the templated-page cluster that
  * survives nothing and lands whole in one LSH bucket per band. Uncapped
  * candidate generation would emit megaBucket²/2 pairs from it (50k docs →
  * 1.25 B pairs, a stalled stage); the `maxBucket` chain emits
  * megaBucket−1. The report's `mega_pairs` counts candidate pairs inside
  * the planted cluster, proving the bound held at bench scale.
  *
  * Straggler bound (the round-12 de-windowing): the whole pipeline runs
  * at quarter scale and full scale with shuffle partitions scaled 4×
  * (the 1000-executor model — more data, more reducers; AQE coalescing
  * off so the configured count holds), and the MAX per-task shuffle-read
  * record count is reported for both. Under the former count/lead
  * windows over (band, bucket), the flood's whole membership × bands
  * read in ONE task at any partition count (growth = 4 at 4× flood);
  * with the mega-key anti/semi split + range-partitioned chain, no task
  * reads a partition that scales with a bucket's membership
  * (`max_growth` near 1).
  */
object DedupBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 100000
    val mega = if (args.length > 1) args(1).toInt else 0
    val out = args.lift(2)
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-dedup-bench", s"local[$cpus]", cpus)
    import spark.implicits._

    val maxTaskRows = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null)
            maxTaskRows.getAndAccumulate(m.shuffleReadMetrics.recordsRead,
              math.max(_, _))
        }
      })
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // the flood's (band, bucket) partitions in the anti/semi split joins
    // are the SKEW-JOIN-SPLITTABLE shape (a window sort never was): at
    // production partition sizes the 256 MB default threshold triggers by
    // itself; this bench's flood partitions are ~35-145 MB, so the
    // thresholds are scaled down proportionally to demonstrate the split
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    // the split-gate joins chain into the exhaustive self-join on the same
    // key, so the skew split must be allowed to break that reuse (an extra
    // exchange of the SMALL side) — without force, AQE preserves the
    // downstream partitioning requirement and leaves the flood partition
    // whole
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")

    val vocabSize = 5000
    // returns (total, planted, found, truePos, megaPairs, maxTaskRows, secs)
    def run(nDocs: Int, megaDocs: Int, parts: Int):
        (Long, Long, Long, Long, Long, Long, Double) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val base = spark.range(nDocs).select(col("id").as("doc_id"),
        transform(sequence(lit(0), lit(79)),
          i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(vocabSize.toLong))))
          .as("words"))
      // every 10th doc gets a near-dup twin (id + n): words mutated at i%10==0
      val twins = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + nDocs).as("doc_id"),
          transform(col("words"), (w, i) =>
            when(i % 10 === 0, concat(lit("m"), w)).otherwise(w)).as("words"))
      val megaBase = 10L * nDocs
      val boiler = spark.range(megaDocs).select((col("id") + megaBase).as("doc_id"),
        lit("identical boilerplate legal footer repeated verbatim across the " +
          "whole crawl by a site template engine every single page").as("text"))
      val docs = base.union(twins)
        .select(col("doc_id"), concat_ws(" ", col("words")).as("text"))
        .union(boiler)
        .repartition(cpus * 2).cache()
      val total = docs.count()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      maxTaskRows.set(0)

      val t0 = System.nanoTime()
      val pairs = Dedup.nearDuplicates(docs, "text", "doc_id", threshold = 0.5).cache()
      val found = pairs.count()
      val secs = (System.nanoTime() - t0) / 1e9

      val planted = (total - megaDocs) - nDocs
      val truePos = pairs
        .filter(col("b") === col("a") + nDocs && col("a") < megaBase).count()
      val megaPairs =
        if (megaDocs == 0) 0L else pairs.filter(col("a") >= megaBase).count()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      val mx = maxTaskRows.get()
      pairs.unpersist(); docs.unpersist()
      (total, planted, found, truePos, megaPairs, mx, secs)
    }

    val (_, _, _, _, megaPairsQ, maxQ, _) = run(n / 4, mega / 4, cpus)
    val (total, planted, found, truePos, megaPairs, maxF, secs) =
      run(n, mega, cpus * 4)
    val growth = maxF.toDouble / math.max(1L, maxQ)
    val json =
      f"""{"docs":$total,"planted_pairs":$planted,"found_pairs":$found,"true_pos":$truePos,"recall":${truePos.toDouble / planted}%.4f,"precision":${truePos.toDouble / math.max(found - megaPairs, 1)}%.4f,"mega_docs":$mega,"mega_pairs":$megaPairs,"mega_pairs_quarter":$megaPairsQ,"max_task_rows_quarter":$maxQ,"max_task_rows_full":$maxF,"max_growth_at_4x":$growth%.2f,"bounded":${growth < 2.0},"secs_full":$secs%.1f}"""
    println(json)
    out.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
