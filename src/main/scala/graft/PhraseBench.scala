package graft

import org.apache.spark.sql.functions._

/** Phrase-serving scale evidence (the ANNBENCH convention): how the
  * three phrase-search shapes pay as the standing-phrase count grows —
  *
  *  - `scan_each`: one [[graft.text.Search.phraseSearch]] corpus pass
  *    PER phrase (the shape a naive service runs) — expect wall ~linear
  *    in the phrase count;
  *  - `batch_scan`: ONE [[graft.text.Search.phraseSearchBatch]] pass
  *    for the whole set — expect near-flat wall (the corpus scan
  *    amortizes; only the posting volume grows);
  *  - `batch_indexed`: [[graft.text.Search.phraseProbeBatch]] from the
  *    persisted positional index — the corpus never rescans at all.
  *
  * Phrases are generated deterministically from the corpus vocabulary
  * (adjacent common-word bigrams/trigrams), so every phrase has real
  * matches. One warmup + one timed run per cell (ScaleBench's
  * discipline — this gates on shape ratios, not ±5%).
  *
  * Usage: `runMain graft.PhraseBench [sfDir] [out]` (defaults
  * /tmp/graft_sf1 PHRASEBENCH_r17.json).
  */
object PhraseBench {
  private val Vocab = Seq("table", "hash", "sort", "merge", "scan",
    "filter", "value", "part", "key", "row", "fast", "slow", "window",
    "batch", "query", "group", "data", "column", "line", "order",
    "stream", "agg", "join", "small", "big", "vector", "customer", "spark")

  private def phrases(n: Int): Seq[(String, String)] =
    (0 until n).map { i =>
      val a = Vocab(i % Vocab.size)
      val b = Vocab((i * 7 + 3) % Vocab.size)
      val t = if (i % 3 == 2) " " + Vocab((i * 11 + 5) % Vocab.size) else ""
      (f"p$i%03d", s"$a $b$t")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/graft_sf1")
    val out = args.lift(1).getOrElse("PHRASEBENCH_r17.json")
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-phrase-bench", s"local[$cpus]", cpus)
    import spark.implicits._
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")

    val docs = Tables(spark, sfDir, "documents")
    val table = "graft_phrasebench_idx"
    graft.sources.Warehouse.dropTableAndLocation(spark, table)
    graft.text.Search.writePhraseIndex(docs, "text", "doc_id", table,
      buckets = 16)

    def time(f: => Long): (Double, Long) = {
      f // warmup
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    val cells = for (n <- Seq(6, 24, 48)) yield {
      val ps = phrases(n)
      val pdf = ps.toDF("query_id", "phrase")
      val (tEach, rEach) = time {
        ps.map { case (_, p) =>
          graft.text.Search.phraseSearch(docs, "text", "doc_id", p).count()
        }.sum
      }
      val (tBatch, rBatch) = time {
        graft.text.Search.phraseSearchBatch(docs, "text", "doc_id",
          pdf, "query_id", "phrase").count()
      }
      val (tIdx, rIdx) = time {
        graft.text.Search.phraseProbeBatch(spark, table, "doc_id",
          pdf, "query_id", "phrase").count()
      }
      println(s"[phrasebench] n=$n scan_each=${tEach}s batch_scan=${tBatch}s " +
        s"batch_indexed=${tIdx}s rows=$rEach/$rBatch/$rIdx")
      f""""n_$n":{"scan_each_s":$tEach%.3f,"batch_scan_s":$tBatch%.3f,""" +
        f""""batch_indexed_s":$tIdx%.3f,"rows_batch":$rBatch}"""
    }
    val json = s"""{"metric":"phrase_serving","sf_dir":"$sfDir",""" +
      s""""cpus":$cpus,${cells.mkString(",")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(json)
    spark.stop()
  }
}
