package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CONTAINBENCH — the at-scale evidence for the set-containment join
  * (d24 / L86) the sf10 gate deliberately excludes: sf10 replicates
  * documents verbatim, so the PAIR OUTPUT there grows quadratically in
  * the replica count (a testdata artifact of pair-listing semantics —
  * real corpora exact-dedup replicas before any containment pass). This
  * bench builds a DEDUP-FIRST corpus (every document distinct) with a
  * controlled containment structure, runs the production
  * [[graft.dedup.Containment]] stages at 1× and 10×, and records what
  * the round-13 verdict asked to see measured: candidate-pair count,
  * verify-join shuffle volume (bytes and records), max task rows, and
  * wall time — the evidence that the prefix filter keeps BYTES (each
  * candidate ships two KB-sized hash arrays), not just pair counts,
  * linear in corpus size.
  *
  * Corpus shape (seeded, deterministic): `n` documents; 80% "noise"
  * docs of ~120 tokens drawn from a 50k-word vocabulary with a
  * per-doc disjoint tail (no cross-doc shingle sharing beyond chance);
  * 10% "base" docs of ~50 tokens; 10% "container" docs that embed one
  * full base doc between ~150 unique filler tokens (the true
  * containment pairs — one per container, plus whatever chance overlap
  * clears τ=80%, typically none). Every doc is unique text: exact
  * dedup removes nothing, so this is the operator's honest workload.
  *
  * Output: one JSON line per scale in CONTAINBENCH.json plus a
  * ratio block (big/small) — linear plans land wall/cand/bytes ratios
  * near the data ratio; anything super-linear is the regression this
  * artifact exists to catch.
  */
object ContainBench {

  /** Deterministic corpus: (doc_id, text). Token ids are hashed splits
    * of a seeded counter — no RNG object, reproducible at any
    * parallelism (generated through Spark's `range`, transformed
    * row-locally).
    */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    val nBase = n / 10
    val nCont = n / 10
    // token streams as column expressions: w<(mix of id and position)>
    def tok(id: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column,
            vocab: Int, salt: Int) =
      concat(lit("w"), pmod(xxhash64(id * 2654435761L + j * 40503L + salt),
        lit(vocab)))
    def seqText(id: org.apache.spark.sql.Column, len: Int, vocab: Int,
                salt: Int) =
      concat_ws(" ", transform(sequence(lit(1), lit(len)),
        j => tok(id, j, vocab, salt)))

    val base = spark.range(nBase).select(col("id").as("doc_id"),
      seqText(col("id"), 50, 5000, 1).as("text"))
    // containers embed base doc (id % nBase) whole, between unique filler
    val cont = spark.range(nCont).select((col("id") + nBase).as("doc_id"),
      concat_ws(" ",
        seqText(col("id") + nBase, 75, Int.MaxValue, 2),
        seqText(pmod(col("id"), lit(nBase)), 50, 5000, 1),
        seqText(col("id") + nBase, 75, Int.MaxValue, 3)).as("text"))
    val noise = spark.range(n - nBase - nCont)
      .select((col("id") + 2 * nBase).as("doc_id"),
        seqText(col("id") + 2 * nBase, 120, Int.MaxValue, 4).as("text"))
    base.unionByName(cont).unionByName(noise)
  }

  def main(args: Array[String]): Unit = {
    val small = args.lift(0).map(_.toLong).getOrElse(50000L)
    val big = args.lift(1).map(_.toLong).getOrElse(500000L)
    val out = args.lift(2).getOrElse("CONTAINBENCH.json")
    val cpus = Tables.localCpus
    val spark = Tables.newSession("graft-contain-bench", s"local[$cpus]", cpus)
    import graft.dedup.Containment

    val shufReadB = new java.util.concurrent.atomic.AtomicLong()
    val shufReadRec = new java.util.concurrent.atomic.AtomicLong()
    val maxTaskRows = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shufReadRec.addAndGet(m.shuffleReadMetrics.recordsRead)
            maxTaskRows.getAndAccumulate(m.shuffleReadMetrics.recordsRead,
              math.max(_, _))
          }
        }
      })

    // The listener bus is async: without a settle, late onTaskEnd events
    // can land after a counter read (lost) or after the next reset
    // (attributed to the wrong phase). listenerBus is private[spark] only
    // at the Scala level — bytecode is public, so reflection reaches
    // waitUntilEmpty(); fall back to a sleep if the internals move.
    def settle(): Unit = try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .fold(Thread.sleep(1000))(m => { m.invoke(bus); () })
    } catch { case _: Throwable => Thread.sleep(1000) }

    val results = for (n <- Seq(small, big)) yield {
      val docs = corpus(spark, n).localCheckpoint() // corpus gen off the clock
      val sets = Containment.setsFrame(
        docs.select(col("doc_id"),
          Containment.shingleHashes(col("text"), 3).as("__set")),
        "__set", "doc_id").persist()
      val nDocs = sets.count()
      // candidate stage alone (the production stage, instrumented)
      settle(); shufReadB.set(0); shufReadRec.set(0); maxTaskRows.set(0)
      val tc0 = System.nanoTime()
      val candCnt = Containment
        .candidatePairs(sets, tauPct = 80, minElems = 10, prefixFilter = true)
        .count()
      val candSecs = (System.nanoTime() - tc0) / 1e9
      settle()
      val candBytes = shufReadB.get; val candMax = maxTaskRows.get
      // full production pass (candidates + size filter + verify join)
      shufReadB.set(0); shufReadRec.set(0); maxTaskRows.set(0)
      val tv0 = System.nanoTime()
      val verified = Containment.containmentPairsFromSets(
        docs.select(col("doc_id"),
          Containment.shingleHashes(col("text"), 3).as("__set")),
        "__set", "doc_id", tauPct = 80, minElems = 10).count()
      val fullSecs = (System.nanoTime() - tv0) / 1e9
      settle()
      val fullBytes = shufReadB.get; val fullRec = shufReadRec.get
      val fullMax = maxTaskRows.get
      sets.unpersist()
      println(s"[containbench] n=$nDocs cand=$candCnt verified=$verified " +
        f"candSecs=$candSecs%.1f fullSecs=$fullSecs%.1f " +
        s"fullShuffleMB=${fullBytes / 1048576} maxTaskRows=$fullMax")
      (n, nDocs, candCnt, candSecs, candBytes, candMax,
        verified, fullSecs, fullBytes, fullRec, fullMax)
    }

    def row(r: (Long, Long, Long, Double, Long, Long, Long, Double, Long,
                Long, Long)) =
      f"""{"docs":${r._2},"cand_pairs":${r._3},"cand_secs":${r._4}%.2f,""" +
        f""""cand_shuffle_bytes":${r._5},"cand_max_task_rows":${r._6},""" +
        f""""verified_pairs":${r._7},"full_secs":${r._8}%.2f,""" +
        f""""full_shuffle_bytes":${r._9},"full_shuffle_records":${r._10},""" +
        f""""full_max_task_rows":${r._11}}"""
    val s = results.head; val b = results.last
    val ratios =
      f"""{"wall":${b._8 / s._8}%.2f,"cand":${b._3.toDouble / s._3}%.2f,""" +
        f""""shuffle_bytes":${b._9.toDouble / s._9}%.2f,""" +
        f""""max_task_rows":${
          if (s._11 == 0) -1.0 else b._11.toDouble / s._11}%.2f}"""
    val json = s"""{"metric":"contain_scale","cpus":$cpus,""" +
      s""""data_ratio":${big.toDouble / small},"small":${row(s)},""" +
      s""""big":${row(b)},"ratio_big_over_small":$ratios}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(json)
    spark.stop()
  }
}
