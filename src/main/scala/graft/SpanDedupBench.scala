package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Scale validation for span-level exact dedup: every synthetic document
  * carries 90 unique tokens plus the SAME 30-token boilerplate block —
  * the worst-case skew shape, since each of the block's spans lands its
  * full N-document row set in a single window partition. The run proves
  * (a) the rewrite is correct at scale (every document keeps exactly its
  * unique spans; the block survives only in the lowest-id document) and
  * (b) wall time stays linear in N despite the maximally-hot spans.
  * Usage: `runMain graft.SpanDedupBench [N]`.
  */
object SpanDedupBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-spanbench", s"local[$cpus]", cpus)

    // 90 unique tokens (vocab wide enough that cross-doc span collisions
    // are negligible) + a 30-token boilerplate block shared by EVERY doc,
    // aligned to the 3-token span grid (90 % 3 == 0)
    val boiler = (0 until 30).map(i => s"boiler$i").mkString(" ")
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(
        concat_ws(" ", transform(sequence(lit(0), lit(89)),
          i => concat(lit("u"), xxhash64(col("id"), i)))),
        lit(" " + boiler)).as("text"))
      .repartition(cpus * 2).cache()
    docs.count()

    val t0 = System.nanoTime()
    val out = Dedup.dedupSpans(docs, "text", "doc_id", spanTokens = 3).cache()
    val survivors = out.count()
    val secs = (System.nanoTime() - t0) / 1e9

    val agg = out.agg(sum("n_spans"), sum("n_kept")).head()
    val (spansIn, spansKept) = (agg.getLong(0), agg.getLong(1))
    // every doc keeps its 30 unique spans; the 10 block spans survive once
    val expectKept = 30L * n + 10L
    println(f"""{"docs":$n,"survivors":$survivors,"spans_in":$spansIn,"spans_kept":$spansKept,"expect_kept":$expectKept,"exact":${spansKept == expectKept},"hot_span_rows":$n,"secs":$secs%.1f}""")
    spark.stop()
  }
}
