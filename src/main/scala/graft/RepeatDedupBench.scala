package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Straggler-bound evidence for the variable-length maximal-repeat tier
  * (Dedup.dedupRepeats, d20): every synthetic document embeds the SAME
  * 5-token phrase — one repeat contained in EVERY document, below the
  * d19 default window so only the variable-length tier can see it. The
  * removal verdict rides the shared salted corpus-first middle
  * (removedWindowStarts/markCorpusFirst), so no task anywhere reads a
  * partition that scales with the hot phrase's containing-doc count —
  * the same structural claim LineDedupBench (since deleted; an
  * OperatorSpec hot-line test now) pins for d18, asserted here
  * for the d20 path end-to-end (including the segment-statistics fold,
  * which must stay row-local).
  *
  * The bench runs at N/4 and N documents with shuffle partitions scaled
  * 4× (the 1000-executor model), verifies the EXACT expected output at
  * both scales (phrase survives only in doc 0, every other doc loses
  * exactly its 5-token extent), and reports the max per-task
  * shuffle-read record count; `max_growth` near 1 is the bounded-task
  * claim. A final run exercises the prefix-doubling RANK engine at full
  * scale: same exact output, wall clock reported — the engine whose
  * exchange carries no text (the large-minTokens 100 TB path).
  *
  * Run: `runMain graft.RepeatDedupBench [N=400000] [out.json]`.
  */
object RepeatDedupBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(400000)
    val out = args.lift(1)
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-repeatdedupbench", s"local[$cpus]", cpus)

    val maxTaskRows = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null)
          maxTaskRows.getAndAccumulate(m.shuffleReadMetrics.recordsRead,
            math.max(_, _))
      }
    })
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    // 10 unique tokens + the universal 5-token phrase + 2 unique tokens:
    // 17 tokens/doc, every cross-boundary window unique, both in-phrase
    // windows corpus-hot
    val phrase = "sigma tau upsilon phi chi"
    def mkDocs(docsN: Int) = spark.range(docsN).select(col("id").as("doc_id"),
      concat(
        concat_ws(" ", transform(sequence(lit(0), lit(9)),
          i => concat(lit("u"), xxhash64(col("id"), i)))),
        lit(" " + phrase + " "),
        concat_ws(" ", transform(sequence(lit(10), lit(11)),
          i => concat(lit("v"), xxhash64(col("id"), i))))).as("text"))
      .repartition(cpus * 2).cache()

    def run(docsN: Int, parts: Int, engine: String): (Boolean, Long, Double) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val docs = mkDocs(docsN)
      docs.count()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      maxTaskRows.set(0)

      val t0 = System.nanoTime()
      val res = Dedup.dedupRepeats(docs, "text", "doc_id", minTokens = 4,
        engine = engine).cache()
      val survivors = res.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val agg = res.agg(sum("n_kept"), sum("n_repeats_removed"),
        max("max_repeat_len")).head()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      res.unpersist(); docs.unpersist()
      // doc 0 keeps all 17 tokens; every other doc loses exactly the
      // 5-token extent (one maximal segment of length 5)
      val ok = survivors == docsN &&
        agg.getLong(0) == 17L + 12L * (docsN - 1) &&
        agg.getLong(1) == (docsN - 1).toLong &&
        agg.getLong(2) == 5L
      (ok, maxTaskRows.get(), secs)
    }

    val (okSmall, maxSmall, _) = run(n / 4, cpus, "strings")
    val (okBig, maxBig, secs) = run(n, cpus * 4, "strings")
    val growth = maxBig.toDouble / math.max(1L, maxSmall)
    val (okRanks, _, secsRanks) = run(n, cpus * 4, "ranks")

    // the PUBLISHED threshold (Lee et al. L=50): 30 unique + 55-token
    // universal phrase + 2 unique per doc — here the string engine ships
    // ~1 KB window keys per position where the rank engine ships
    // fixed-width labels over 6 doubling rounds
    val phrase50 = (0 until 55).map(i => s"p$i").mkString(" ")
    def run50(docsN: Int, engine: String): (Boolean, Double) = {
      spark.conf.set("spark.sql.shuffle.partitions", (cpus * 4).toString)
      val docs = spark.range(docsN).select(col("id").as("doc_id"),
        concat(
          concat_ws(" ", transform(sequence(lit(0), lit(29)),
            i => concat(lit("u"), xxhash64(col("id"), i)))),
          lit(" " + phrase50 + " "),
          concat_ws(" ", transform(sequence(lit(30), lit(31)),
            i => concat(lit("v"), xxhash64(col("id"), i))))).as("text"))
        .repartition(cpus * 2).cache()
      docs.count()
      val t0 = System.nanoTime()
      val res = Dedup.dedupRepeats(docs, "text", "doc_id", minTokens = 50,
        engine = engine).cache()
      val survivors = res.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val agg = res.agg(sum("n_kept"), max("max_repeat_len")).head()
      res.unpersist(); docs.unpersist()
      (survivors == docsN && agg.getLong(0) == 87L + 32L * (docsN - 1) &&
        agg.getLong(1) == 55L, secs)
    }
    val n50 = n / 4
    val (okS50, secsS50) = run50(n50, "strings")
    val (okR50, secsR50) = run50(n50, "ranks")

    val json =
      f"""{"docs":$n,"hot_phrase_docs":$n,"exact_quarter":$okSmall,"exact_full":$okBig,"max_task_rows_quarter":$maxSmall,"max_task_rows_full":$maxBig,"max_growth_at_4x_docs":$growth%.2f,"bounded":${okSmall && okBig && growth < 2.0},"secs_full":$secs%.1f,"exact_ranks":$okRanks,"secs_ranks_full":$secsRanks%.1f,"l50_docs":$n50,"l50_exact_strings":$okS50,"l50_secs_strings":$secsS50%.1f,"l50_exact_ranks":$okR50,"l50_secs_ranks":$secsR50%.1f}"""
    println(json)
    out.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
