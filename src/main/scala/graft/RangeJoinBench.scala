package graft

import org.apache.spark.sql.functions._
import graft.operators.RangeJoin

/** Evidence that the binned interval join (A27) removes the nested-loop
  * cliff and scales linearly in the match count.
  *
  * Synthetic shape: facts carry a uniform value in [0, span); dims are
  * ~100-wide bands at deterministic offsets, so each fact matches a
  * handful of bands. Three runs:
  *
  *  1. SMALL, naive: `facts.join(dims, v between lo and hi)` — Spark
  *     plans BroadcastNestedLoopJoin, O(facts × dims) comparisons. Kept
  *     small (50k × 2k = 10⁸ comparisons) so it finishes at all.
  *  2. SMALL, binned: identical pairs (asserted), fraction of the wall.
  *  3. BIG, binned (40× facts, 10× dims — 400× the naive comparison
  *     count, 4·10¹⁰): wall should grow ~linearly with OUTPUT rows, not
  *     with facts × dims; the naive plan at this scale would be ~400×
  *     run 1.
  *
  * Run: `runMain graft.RangeJoinBench [factsBig=2000000] [out.json]`.
  */
object RangeJoinBench {
  def main(args: Array[String]): Unit = {
    val factsBig = args.headOption.map(_.toInt).getOrElse(2000000)
    val out = args.lift(1)
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-rangejoinbench", s"local[$cpus]", cpus)

    val span = 1000000.0
    def facts(n: Int) = spark.range(n).select(col("id").as("fact_id"),
      (pmod(xxhash64(col("id")), lit(1000000)).cast("double") * lit(span / 1e6))
        .as("v"))
    def dims(m: Int) = spark.range(m).select(col("id").as("band_id"),
      (pmod(xxhash64(col("id"), lit(7)), lit(1000000)).cast("double") *
        lit(span / 1e6)).as("lo"))
      .withColumn("hi", col("lo") + lit(100.0))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val (fs, ds) = (facts(50000).cache(), dims(2000).cache())
    fs.count(); ds.count()
    val (naiveN, naiveS) = time {
      fs.join(ds, col("v") >= col("lo") && col("v") <= col("hi")).count()
    }
    val (binnedN, binnedS) = time {
      RangeJoin(fs, ds, "v", "lo", "hi", binWidth = 100.0).count()
    }
    require(naiveN == binnedN, s"pair mismatch: naive $naiveN binned $binnedN")

    val (fb, db) = (facts(factsBig).cache(), dims(20000).cache())
    fb.count(); db.count()
    val (bigN, bigS) = time {
      RangeJoin(fb, db, "v", "lo", "hi", binWidth = 100.0).count()
    }
    // linearity in output: seconds per million result rows, small vs big
    val perMSmall = binnedS / (binnedN / 1e6)
    val perMBig = bigS / (bigN / 1e6)
    val json =
      f"""{"facts_small":50000,"dims_small":2000,"naive_secs":$naiveS%.2f,"binned_secs":$binnedS%.2f,"speedup_small":${naiveS / binnedS}%.1f,"pairs_small":$naiveN,"facts_big":$factsBig,"dims_big":20000,"binned_secs_big":$bigS%.2f,"pairs_big":$bigN,"secs_per_m_pairs_small":$perMSmall%.3f,"secs_per_m_pairs_big":$perMBig%.3f,"comparisons_ratio_vs_naive_small":${factsBig.toDouble * 20000 / (50000.0 * 2000)}%.0f}"""
    println(json)
    out.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json.getBytes("UTF-8"))
    }
    spark.stop()
  }
}
