package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Straggler-bound evidence for the salted corpus-first-winner rework
  * (Dedup.markCorpusFirst, shared by d08/d18/d19): every synthetic
  * document carries 10 unique lines plus the SAME boilerplate line — the
  * "Privacy Policy" shape, one key contained in EVERY document. Under the
  * former `min(struct).over(Window.partitionBy(line))` that key's whole
  * one-row-per-containing-doc set (= N rows) sorted in ONE task; with the
  * salted two-phase min + composite join-back, no task anywhere reads a
  * partition that scales with the hot line's document count.
  *
  * The bench runs [[Dedup.dedupLinesGlobal]] at N/4 and at N documents,
  * verifies the EXACT expected output at both scales (every doc keeps its
  * 10 unique lines; the boilerplate survives only in doc 0), and reports
  * the MAXIMUM shuffle-read record count of any task per run, measured by
  * a SparkListener. Shuffle partitions SCALE with the corpus (the
  * 1000-executor model: more data, more reducers; AQE coalescing off so
  * the partition count is the configured one), so under uniform
  * distribution per-task rows stay FLAT across the 4× scale-up — while a
  * hot-key window partition is one task at any partition count and grows
  * linearly with the hot line's containing-doc count. `max_growth` near
  * 1 is the structural claim; near 4 would mean some task concentrates
  * the hot key.
  *
  * Run: `runMain graft.LineDedupBench [N=400000] [out.json]`.
  */
object LineDedupBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(400000)
    val out = args.lift(1)
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-linededupbench", s"local[$cpus]", cpus)

    val maxTaskRows = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null)
          maxTaskRows.getAndAccumulate(m.shuffleReadMetrics.recordsRead,
            math.max(_, _))
      }
    })

    // partition count must be the configured one for the flat-per-task
    // claim — AQE coalescing would re-merge the scaled-up reducers
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    // 10 unique lines per doc + the corpus-universal boilerplate line
    val hot = "This site uses cookies. See our Privacy Policy for details."
    def run(docsN: Int, parts: Int): (Boolean, Long, Double) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val docs = spark.range(docsN).select(col("id").as("doc_id"),
        concat(
          concat_ws("\n", transform(sequence(lit(0), lit(9)),
            i => concat(lit("u"), xxhash64(col("id"), i)))),
          lit("\n" + hot)).as("text"))
        .repartition(cpus * 2).cache()
      docs.count()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      maxTaskRows.set(0)

      val t0 = System.nanoTime()
      val res = Dedup.dedupLinesGlobal(docs, "text", "doc_id").cache()
      val survivors = res.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val kept = res.agg(sum("n_kept")).head().getLong(0)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      res.unpersist(); docs.unpersist()
      // every doc keeps its 10 unique lines; the hot line survives once
      (kept == 10L * docsN + 1 && survivors == docsN, maxTaskRows.get(), secs)
    }

    val (okSmall, maxSmall, _) = run(n / 4, cpus)
    val (okBig, maxBig, secs) = run(n, cpus * 4)
    val growth = maxBig.toDouble / math.max(1L, maxSmall)
    val json =
      f"""{"docs":$n,"hot_line_docs":$n,"exact_quarter":$okSmall,"exact_full":$okBig,"max_task_rows_quarter":$maxSmall,"max_task_rows_full":$maxBig,"max_growth_at_4x_docs":$growth%.2f,"bounded":${okSmall && okBig && growth < 2.0},"secs_full":$secs%.1f}"""
    println(json)
    out.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
