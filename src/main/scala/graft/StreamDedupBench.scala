package graft

import java.sql.Timestamp
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Wire-volume evidence for the streaming banded near-dedup: feed one
  * boilerplate-flood micro-batch (N identical ~1 KB docs + a few distinct)
  * through [[graft.streaming.EventStreams.dedupeNearBanded]] and report the
  * TOTAL shuffle bytes the query wrote, measured by a SparkListener over
  * stage metrics.
  *
  * Why this number matters: the band-keyed state stage's input is the one
  * skewable shuffle in the operator. Shipping full documents ×bands
  * through it costs ≈ N × bands × payload bytes (160 MB for 10k 1 KB docs
  * at 16 bands); the skeleton discipline costs ≈ N × bands × ~40 B of
  * skeletons plus N × payload ONCE through the unskewed verdict stage
  * (~26 MB). The printed `shuffle_per_doc_bytes` makes the shape
  * self-evident: far below `bands × payload` means payloads are not
  * riding the band shuffle.
  *
  * Reading the numbers: shuffle BYTES are post-compression (identical
  * flood payloads compress brutally), so the structural check is the
  * RECORD count — expect ≈ flood × bands band-skeleton records plus
  * ≈ flood payload-once records (170k for 10k docs at 16 bands), not
  * flood × bands payload records.
  *
  * Run: `runMain graft.StreamDedupBench [flood=10000] [out.json]`.
  */
object StreamDedupBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10000)
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-streamdedupbench", s"local[$cpus]", cpus)
    spark.conf.set("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    import spark.implicits._

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })

    // ~1 KB of templated boilerplate — the re-posted page every crawl sees
    val boiler = ("subscribe to our newsletter for daily updates and offers " +
      "terms and conditions apply please read the privacy policy carefully ") * 8
    val distinct1 = "a genuinely unique article about the migration patterns " +
      "of arctic birds and the scientists who follow them across the seasons " * 8
    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val query = graft.streaming.EventStreams
      .dedupeNearBanded(docs, "text", "doc_id", "ts",
        watermark = "10 minutes", windowLen = "1 minute")
      .writeStream.format("memory").queryName("sdb_out")
      .outputMode("append").start()
    val t0 = System.nanoTime()
    input.addData((2L to (n + 1L)).map(i => (i, ts(0), boiler)) :+
      (n + 2L, ts(0), distinct1): _*)
    query.processAllAvailable()
    input.addData((999999L, ts(59), distinct1 + " watermark heartbeat tail"))
    query.processAllAvailable()
    val wallSec = (System.nanoTime() - t0) / 1e9
    val survivors = spark.table("sdb_out").count()
    query.stop()
    // the listener bus is async: drain it before reading the atomics or
    // the artifact can undercount the last stages' shuffle writes
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)

    val payloadBytes = boiler.getBytes("UTF-8").length
    val perDoc = shuffleBytes.get.toDouble / n
    val json = f"""{"bench":"streamdedup","flood":$n,"payload_bytes":$payloadBytes,""" +
      f""""survivors":$survivors,"wall_sec":$wallSec%.2f,""" +
      f""""shuffle_write_bytes":${shuffleBytes.get},""" +
      f""""shuffle_write_records":${shuffleRecords.get},""" +
      f""""shuffle_per_doc_bytes":$perDoc%.0f,""" +
      f""""payload_x_bands_per_doc_bytes":${payloadBytes * 16}}"""
    println(json)
    args.drop(1).headOption.foreach { path =>
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (json + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
