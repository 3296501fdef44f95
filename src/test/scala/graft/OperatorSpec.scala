package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextOps

/** Semantics tests for the LLM-pipeline operators on corpora with planted
  * duplicates/near-duplicates (things the all-distinct driver tables can't
  * exercise).
  */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away home"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog and walks far away home"), // near dup of 1
    (4L, "completely different content about spark query engines and storage"),
    (5L, "yet another unrelated document mentioning databases and vectors")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per content group") {
    val out = Dedup.exact(docs, "text", "doc_id").select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("minhash LSH finds the exact and near dup pairs, not unrelated ones") {
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id", k = 3, numHashes = 64, bands = 32)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).size == 1 && Set(a, b).intersect(Set(1L, 2L, 3L)).size == 1 })
  }

  test("minhashCandidates caps mega-buckets to a bounded chain") {
    // 10k identical docs land the whole corpus in ONE bucket per band:
    // uncapped self-join pairing would emit ~50M candidate pairs; the cap
    // emits an id-ordered successor chain instead (n−1 pairs, identical
    // across bands), which keeps the bucket one connected component.
    val n = 10000
    val mega = spark.range(1, n + 1).select(col("id").as("doc_id"),
      lit("identical boilerplate page body repeated across the whole crawl").as("text"))
    val pairs = Dedup.minhashCandidates(mega, "text", "doc_id", maxBucket = 100)
      .as[(Long, Long)].collect()
    assert(pairs.length == n - 1, s"expected a ${n - 1}-pair chain, got ${pairs.length}")
    // successor chain over ids 1..n: every pair is (i, i+1) — connected,
    // and nearDedup's drop-higher-id rule still keeps only doc 1
    assert(pairs.forall { case (a, b) => b == a + 1 })
    // buckets at or under the bound are exhaustively paired exactly as
    // before: the capped and effectively-uncapped runs agree on a corpus
    // with no mega-bucket
    val base = Dedup.minhashCandidates(docs, "text", "doc_id", bands = 32,
      maxBucket = Int.MaxValue).as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashCandidates(docs, "text", "doc_id", bands = 32)
      .as[(Long, Long)].collect().toSet
    assert(capped == base)
  }

  test("minhashCandidates: every materialization strategy returns the same pairs") {
    import graft.pipeline.Materialize
    val dir = java.nio.file.Files.createTempDirectory("graft-mh").toString
    def run(m: Materialize) = Dedup.minhashCandidates(docs, "text", "doc_id",
        k = 3, numHashes = 64, bands = 32, materialize = m)
      .as[(Long, Long)].collect().toSet
    val expected = run(Materialize.Local)
    for (m <- Seq(Materialize.Off, Materialize.Disk, Materialize.Reliable(dir)))
      assert(run(m) == expected, s"strategy $m diverged")
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("minhash-pairs-")))
  }

  test("dedupSpans removes repeated spans corpus-wide, keeping the first occurrence") {
    val corpus = Seq(
      (1L, "a1 a2 a3 b1 b2 b3"), // 2 spans, both corpus-first
      (2L, "a1 a2 a3 c1 c2 c3"), // first span already seen in doc 1
      (3L, "b1 b2 b3 a1 a2 a3"), // every span seen → document disappears
      (4L, "p q r p q r"), // within-doc repeat collapses to one occurrence
      (5L, "x y"), // sub-span-length tail kept as a short span
      (6L, "  a1 a2 a3 new1 new2 new3"), // indentation must not shield
      //    the boilerplate span from matching doc 1's unindented one
      (7L, "   ") // whitespace-only: zero spans, document disappears
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(corpus, "text", "doc_id", spanTokens = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, "a1 a2 a3 b1 b2 b3"),
      (2L, 2L, 1L, "c1 c2 c3"),
      (4L, 2L, 1L, "p q r"),
      (5L, 1L, 1L, "x y"),
      (6L, 2L, 1L, "new1 new2 new3")))
    // a block in EVERY document: each doc keeps its 2 unique spans and
    // the block's 2 spans survive once, in the lowest id
    val block = "b1 b2 b3 b4 b5 b6"
    val hot = spark.range(300).select(col("id").as("doc_id"),
      concat(lit("a"), col("id"), lit(" b"), col("id"), lit(" c"), col("id"),
        lit(" d"), col("id"), lit(" e"), col("id"), lit(" f"), col("id"),
        lit(" " + block)).as("text"))
    val hotOut = Dedup.dedupSpans(hot.repartition(7), "text", "doc_id", spanTokens = 3)
      .as[(Long, Long, Long, String)].collect()
    assert(hotOut.length == 300)
    hotOut.foreach { case (id, nSpans, nKept, text) =>
      val unique = Seq("a", "b", "c", "d", "e", "f").map(t => s"$t$id").mkString(" ")
      val want = if (id == 0L) (4L, unique + " " + block) else (2L, unique)
      assert(nSpans == 4L && (nKept, text) == want, s"doc $id: $nKept $text")
    }
  }

  test("markCorpusFirst skeleton blocks auto-release after the first action") {
    // the corpus-first skeleton is persisted DISK_ONLY for within-query
    // branch sharing; a long-lived driver calling the dedup operators per
    // batch must not accumulate blocks between GCs, so the persist is
    // released by a one-shot listener when the consuming query finishes
    val corpus = Seq((1L, "a b c d e f"), (2L, "a b c x y z"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(Dedup.dedupSpans(corpus, "text", "doc_id", spanTokens = 3).count() == 2)
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
    // the execution-listener bus delivers asynchronously; bounded poll
    val deadline = System.nanoTime() + 10_000_000_000L
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked.isEmpty, s"skeleton persist leaked rdd ids: $leaked")
  }

  test("an armed persisted copy that is never read is freed once dropped") {
    // the release-after-next-use listener keeps only the RDD id: a frame
    // armed and then dropped unread falls back to the ContextCleaner
    // instead of pinning its blocks for the session's lifetime
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def armAndDrop(): Unit =
      org.apache.spark.sql.graftbridge.Bridge.persistedCopy(
        spark.range(100).toDF("x"),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .releaseAfterNextUse()
    armAndDrop()
    // ids only: a key-set VIEW of getPersistentRDDs would itself hold
    // the RDDs strongly
    def leaked = spark.sparkContext.getPersistentRDDs.keysIterator
      .filterNot(before).toSet
    val armed = leaked.size
    assert(armed == 1)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(leaked.isEmpty, s"armed persisted copy pinned rdd ids: $leaked")
  }

  test("a persisted copy declares only an explicit-N hash layout") {
    // hash repartition(n, col): the copy keeps the layout, so a groupBy
    // on col plans no exchange over it. Range repartition(n, col): its
    // partition expressions are sort orders, so the copy declares
    // nothing and the groupBy still shuffles.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.storage.StorageLevel
    val df = spark.range(1000).select((col("id") % 7).as("k"), col("id"))
    def exchanges(in: org.apache.spark.sql.DataFrame): Int = {
      val persisted = Bridge.persistedCopy(in, StorageLevel.MEMORY_AND_DISK)
      try persisted.df.groupBy("k").count().queryExecution.executedPlan
        .collect { case s: ShuffleExchangeExec => s }.size
      finally persisted.release()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(exchanges(df.repartition(4, col("k"))) == 0)
      assert(exchanges(df.repartitionByRange(4, col("k"))) == 1)
      val ranged = Bridge.persistedCopy(df.repartitionByRange(4, col("k")),
        StorageLevel.MEMORY_AND_DISK)
      try assert(ranged.df.queryExecution.executedPlan.outputPartitioning
        .isInstanceOf[UnknownPartitioning])
      finally ranged.release()
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("decontaminateSpans removes exactly the spans a benchmark gram overlaps") {
    val bench = Seq((100L, "q1 q2 q3 q4"), (101L, "s1 s2")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "w1 w2 w3 q1 q2 q3 z1 z2 z3"), // gram at token 3 → span 1 only
      (2L, "a1 a2 q1 q2 q3 b1"), // gram at token 2 crosses the boundary →
      //    both spans removed → document disappears
      (3L, "c1 c2 c3 d1 d2 d3"), // clean → untouched
      (4L, "q1 q2 q3 q4"), // pure benchmark replay → disappears
      (5L, "  w1 w2 w3 q1 q2 q3"), // leading whitespace: gram positions are
      //    over the FILTERED tokens, so they still align with the span cut
      (6L, "s1 s2"), // sub-n doc matching a sub-n benchmark whole-gram
      (7L, "s1 s2 s3") // full 3-gram ≠ the short bench gram → survives
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminateSpans(corpus, bench, "text", "doc_id",
        spanTokens = 3, n = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, "w1 w2 w3 z1 z2 z3"),
      (3L, 2L, 2L, "c1 c2 c3 d1 d2 d3"),
      (5L, 2L, 1L, "w1 w2 w3"),
      (7L, 1L, 1L, "s1 s2 s3")), out.toSeq.mkString("; "))
  }

  test("dedupAgainstRegistry drops cross-run dups and grows the registry") {
    graft.sources.Warehouse.dropTableAndLocation(spark, "reg_test")
    Dedup.createRegistry(spark, "reg_test", buckets = 4)
    val day1 = Seq((1L, "alpha doc"), (2L, "beta doc"), (3L, "alpha doc"))
      .toDF("doc_id", "text")
    val s1 = Dedup.dedupAgainstRegistry(day1, "text", "doc_id", "reg_test")
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == Set(1L, 2L)) // within-batch dup 3 dropped
    val day2 = Seq((10L, "alpha doc"), (11L, "gamma doc")).toDF("doc_id", "text")
    val s2df = Dedup.dedupAgainstRegistry(day2, "text", "doc_id", "reg_test")
    assert(s2df.select("doc_id").as[Long].collect().toSet == Set(11L)) // alpha seen day 1
    // the day-2 result must be stable under re-reads even AFTER a day-3
    // run has grown the registry (the failure contract in the scaladoc)
    val day3 = Seq((20L, "delta doc")).toDF("doc_id", "text")
    Dedup.dedupAgainstRegistry(day3, "text", "doc_id", "reg_test").count()
    assert(s2df.select("doc_id").as[Long].collect().toSet == Set(11L))
    // update=false reports without growing the registry: the novel doc
    // surfaces, the already-ingested one doesn't, and a second probe of
    // the same batch says the same thing (nothing was registered)
    val day4 = Seq((30L, "beta doc"), (31L, "epsilon doc")).toDF("doc_id", "text")
    for (_ <- 1 to 2) {
      val probe = Dedup.dedupAgainstRegistry(day4, "text", "doc_id", "reg_test",
        update = false)
      assert(probe.select("doc_id").as[Long].collect().toSet == Set(31L))
    }
    assert(spark.table("reg_test").count() == 4) // alpha beta gamma delta
  }

  test("dedupLinesAgainstRegistry strips lines ingested in earlier runs") {
    graft.sources.Warehouse.dropTableAndLocation(spark, "linereg_test")
    Dedup.createLineRegistry(spark, "linereg_test", buckets = 4)
    val day1 = Seq(
      (1L, "nav menu\nunique one\n\nfooter"),
      (2L, "nav menu\nunique two\nfooter")).toDF("doc_id", "text")
    val s1 = Dedup.dedupLinesAgainstRegistry(day1, "text", "doc_id",
      "linereg_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // within-batch corpus-first: doc 1 keeps everything (incl. its blank),
    // doc 2 loses the shared nav/footer to doc 1
    assert(s1.sortBy(_._1) == Seq(
      (1L, 3L, "nav menu\nunique one\n\nfooter"),
      (2L, 1L, "unique two")), s1.toString)
    // day 2: a page repeating day-1 boilerplate + one fresh line — the
    // registry strips lines the within-run pass cannot see; a doc that is
    // ALL previously-seen lines vanishes
    val day2 = Seq(
      (10L, "nav menu\nfresh line\nfooter"),
      (11L, "nav menu\nunique one\nfooter")).toDF("doc_id", "text")
    val s2df = Dedup.dedupLinesAgainstRegistry(day2, "text", "doc_id",
      "linereg_test")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(rows(s2df).sortBy(_._1) == Seq((10L, 1L, "fresh line")), rows(s2df))
    // the day-2 result is stable under re-reads AFTER a day-3 run grew
    // the registry (the delta-file failure contract)
    Dedup.dedupLinesAgainstRegistry(
      Seq((20L, "fresh line\nanother line")).toDF("doc_id", "text"),
      "text", "doc_id", "linereg_test").count()
    assert(rows(s2df).sortBy(_._1) == Seq((10L, 1L, "fresh line")))
    // update=false reports without registering: repeated probes agree and
    // the registry row count is unchanged
    val before = spark.table("linereg_test").count()
    val day4 = Seq((30L, "footer\nbrand new line")).toDF("doc_id", "text")
    for (_ <- 1 to 2) {
      val probe = Dedup.dedupLinesAgainstRegistry(day4, "text", "doc_id",
        "linereg_test", update = false)
      assert(rows(probe) == Seq((30L, 1L, "brand new line")), rows(probe))
    }
    assert(spark.table("linereg_test").count() == before)
    // registered = kept winners only: day-2's losing replay of "nav menu"
    // registered nothing new; blanks never register
    // (nav, unique one, footer, unique two, fresh, another) = 6
    assert(before == 6, s"registry rows $before")
  }

  test("simhashNearDedup collapses hamming-near docs transitively; distinct survive") {
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps on the warm windowsill and the birds sing in the garden " +
      "every morning as the sun rises over the quiet town for everyone"
    val near1 = base.replace("windowsill", "doorstep")   // few bits flip
    val near2 = near1.replace("quiet", "sleepy")         // chain: near near1
    val distinct1 = "an entirely different document about distributed query " +
      "engines and their optimizers planning joins over columnar storage " +
      "layouts for modern large scale analytics workloads in production"
    val docs = Seq((1L, base), (2L, base), (3L, near1), (4L, near2),
      (5L, distinct1), (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // pin the premise: the mutations are within a small hamming radius of
    // base, the distinct doc far outside it
    val sigs = docs.filter($"text".isNotNull)
      .select($"doc_id", Dedup.simhash($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(dist(sigs(1L), sigs(3L)) > 0 && dist(sigs(1L), sigs(3L)) <= 6,
      s"near1 distance ${dist(sigs(1L), sigs(3L))}")
    assert(dist(sigs(3L), sigs(4L)) <= 6, s"chain distance ${dist(sigs(3L), sigs(4L))}")
    assert(dist(sigs(1L), sigs(5L)) > 6, s"distinct too close ${dist(sigs(1L), sigs(5L))}")
    val out = Dedup.simhashNearDedup(docs, "text", "doc_id", maxHamming = 6)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 2 falls to the exact tier, 3 to the near tier, 4 through the CHAIN
    // (near2 may be outside base's radius but within near1's) — one
    // min-id representative per transitive cluster; the null-text row
    // carries no signature evidence and must survive, never NPE
    assert(out == Seq(1L, 5L, 6L), s"survivors: $out")
  }

  test("hamming tables: Manku wide-prefix design — exact pigeonhole, 32-bit prefixes at defaults") {
    // text default k=3: d=2k=6 blocks, C(6,3)=20 tables, 32-bit prefix;
    // image default k=4: d=8, C(8,4)=70 tables, 32-bit prefix
    for ((k, expD, expT) <- Seq((1, 2, 2), (2, 4, 6), (3, 6, 20), (4, 8, 70))) {
      val (d, combos) = Dedup.hammingTableDesign(k)
      assert(d == expD && combos.size == expT, s"k=$k got d=$d tables=${combos.size}")
      // every combo picks d-k blocks; prefix width = 64*(d-k)/d = 32 bits
      assert(combos.forall(_.size == d - k))
      val widths = combos.head.map(i => ((i + 1) * 64) / d - (i * 64) / d)
      assert(widths.sum == 32, s"k=$k prefix width ${widths.sum}")
    }
    // larger radii trade prefix width down to keep the table count bounded
    val (d6, c6) = Dedup.hammingTableDesign(6)
    assert(d6 == 8 && c6.size == 28)
    assert(Dedup.hammingTableDesign(0) == ((1, Seq(Seq(0)))))
  }

  test("hamming narrow-prefix advisory fires for radius >= 5's sub-24-bit keys, defaults stay silent") {
    // defaults and every radius <= 4 keep 32-bit bucket keys → no signal;
    // radius 5 sits exactly at the 24-bit floor (still silent); radius 6's
    // 16-bit keys revert to the saturation profile the wide-prefix rebuild
    // exists to avoid, so the advisory must surface — with the width and
    // the ops signal to watch in the message
    // k=3's d=6 splits 64 bits unevenly (10/11-bit blocks), so its
    // narrowest combo is 31 bits — still far above the floor
    for ((k, w) <- Seq((1, 32), (2, 32), (3, 31), (4, 32))) {
      assert(Dedup.hammingPrefixBits(k) == w, s"k=$k width")
      assert(Dedup.narrowPrefixWarning(k).isEmpty, s"k=$k warned")
    }
    assert(Dedup.hammingPrefixBits(5) == 24 && Dedup.narrowPrefixWarning(5).isEmpty)
    assert(Dedup.hammingPrefixBits(6) == 16)
    val msg = Dedup.narrowPrefixWarning(6)
    assert(msg.exists(m => m.contains("16-bit") &&
      m.contains("hammingIndexMaxBucket")), s"advisory: $msg")
  }

  test("hamming index max-bucket signal reports cap engagement on a clustered build") {
    import graft.sources.Warehouse
    for (t <- Seq("ham_sig", "ham_sig_hspec"))
      Warehouse.dropTableAndLocation(spark, t)
    // 8 distinct codes inside one radius-3 ball: every band bucket holds
    // all 8 → the cap (5) engages at build time and the ops signal must
    // report max_members == cap; a sparse build stays far below it
    val hot = (0L until 8L).map(i => (i, 1L << i))
    Dedup.writeHammingIndex(hot.toDF("id", "h"), "ham_sig",
      maxHamming = 3, buckets = 2, maxBucket = 5)
    val (m, cap) = Dedup.hammingIndexMaxBucket(spark, "ham_sig")
    assert(cap == 5 && m == 5L, s"expected cap engagement, got ($m, $cap)")
    for (t <- Seq("ham_sig2", "ham_sig2_hspec"))
      Warehouse.dropTableAndLocation(spark, t)
    val rnd = new scala.util.Random(3)
    Dedup.writeHammingIndex(
      Seq.fill(64)(rnd.nextLong()).zipWithIndex
        .map { case (h, i) => (i.toLong, h) }.toDF("id", "h"),
      "ham_sig2", maxHamming = 3, buckets = 2)
    val (m2, cap2) = Dedup.hammingIndexMaxBucket(spark, "ham_sig2")
    assert(cap2 == 10000 && m2 < 5, s"sparse build near cap: ($m2, $cap2)")
  }

  test("hamming pairs: wide-prefix band join ≡ brute-force bit_count on random codes") {
    // 400 random 64-bit codes plus planted near-twins at radii 1..4 —
    // with no cap engaged the Manku tables must find EXACTLY the
    // brute-force pair set (the pigeonhole guarantee is exact, not
    // probabilistic)
    val rnd = new scala.util.Random(42)
    val baseCodes = Seq.fill(400)(rnd.nextLong())
    val twins = baseCodes.take(40).zipWithIndex.map { case (h, i) =>
      var m = h
      for (_ <- 0 to i % 4) m ^= 1L << rnd.nextInt(64) // flip up to 4 bits (may re-flip)
      m
    }
    val codes = (baseCodes ++ twins).zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val k = 4
    val expected = (for {
      (ia, ha) <- codes; (ib, hb) <- codes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= k
    } yield (ia, ib)).toSet
    assert(expected.nonEmpty, "premise: some near pairs planted")
    val got = Dedup.hammingBandPairs(
        codes.toDF("id", "h"), Nil, maxHamming = k, maxBucket = 10000)
      .as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"missing=${expected -- got} spurious=${got -- expected}")
  }

  test("hamming index: cross-run SimHash dedup drops mutated replays and grows by append") {
    import graft.sources.Warehouse
    val base = "the quick brown fox jumps over the lazy dog while the cat " +
      "sleeps on the warm windowsill and the birds sing in the garden " +
      "every morning as the sun rises over the quiet town for everyone"
    val mutated = base.replace("windowsill", "doorstep") // few bits flip
    val distinct1 = "an entirely different document about distributed query " +
      "engines and their optimizers planning joins over columnar storage " +
      "layouts for modern large scale analytics workloads in production"
    // pin the premise on raw signatures
    val sigs = Seq(base, mutated, distinct1).map(t =>
      Seq((0L, t)).toDF("id", "t").select(Dedup.simhash($"t")).as[Long].head())
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(dist(sigs(0), sigs(1)) > 0 && dist(sigs(0), sigs(1)) <= 6)
    assert(dist(sigs(0), sigs(2)) > 6 && dist(sigs(1), sigs(2)) > 6)
    for (t <- Seq("ham_idx", "ham_idx_hspec"))
      Warehouse.dropTableAndLocation(spark, t)
    // day 0: index the historical corpus
    Dedup.writeHammingIndex(
      Seq((100L, base)).toDF("doc_id", "text")
        .select($"doc_id".as("id"), Dedup.simhash($"text").as("h")),
      "ham_idx", maxHamming = 6, buckets = 4)
    // day 1: a MUTATED replay (exact registries can't see it) is dropped;
    // fresh and null-text docs survive; survivors' fingerprints register
    val day1 = Seq((1L, mutated), (2L, distinct1),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out1 = Dedup.simhashNearDedupAgainstIndex(day1, "text", "doc_id",
        "ham_idx")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out1 == Seq(2L, 3L), s"day 1 survivors: $out1")
    // day 2: a mutation OF DAY 1's survivor is caught by the grown index
    val day2 = Seq((10L, distinct1.replace("planning", "scheduling")))
      .toDF("doc_id", "text")
    val out2 = Dedup.simhashNearDedupAgainstIndex(day2, "text", "doc_id",
        "ham_idx")
      .select("doc_id").as[Long].collect().toSeq
    assert(out2.isEmpty, s"day 2 survivors: $out2")
    // report-only: a fresh doc survives without growing the index
    val before = spark.table("ham_idx").count()
    val out3 = Dedup.simhashNearDedupAgainstIndex(
      Seq((20L, "a completely new story about bread baking with flour " +
        "water salt and patience in a hot oven every sunday morning for " +
        "the neighbors who gather around the old communal village table"))
        .toDF("doc_id", "text"),
      "text", "doc_id", "ham_idx", update = false)
      .select("doc_id").as[Long].collect().toSeq
    assert(out3 == Seq(20L))
    assert(spark.table("ham_idx").count() == before,
      "update=false must not append")
  }

  test("hamming index probe catches every id of an over-cap fingerprint flood") {
    // identical fingerprints land in the same buckets in EVERY band, so a
    // probe that banded raw (id, h) rows would cap away all but maxBucket
    // of a flood and falsely report the rest fresh; the probe must
    // collapse to distinct fingerprints first and fan the verdict back
    import graft.sources.Warehouse
    for (t <- Seq("ham_cap", "ham_cap_hspec"))
      Warehouse.dropTableAndLocation(spark, t)
    Dedup.writeHammingIndex(Seq((1L, 42L)).toDF("id", "h"),
      "ham_cap", maxHamming = 3, buckets = 4, maxBucket = 5)
    val flood = (10L until 30L).map(i => (i, 42L)) :+ ((99L, -1L))
    val dups = Dedup.hammingDupIdsAgainstIndex(
        flood.toDF("id", "h"), "ham_cap")
      .as[Long].collect().sorted.toSeq
    assert(dups == (10L until 30L).toSeq,
      s"over-cap flood ids lost or spurious: $dups")
  }

  test("hamming index stores one row per distinct fingerprint, build and append") {
    // the probe's verdict is fingerprint-pure (index ids are never
    // returned), so a flood of one code must register ONE row per band —
    // not maxBucket copies in every band inflating future probe fan-out
    import graft.sources.Warehouse
    for (t <- Seq("ham_dst", "ham_dst_hspec"))
      Warehouse.dropTableAndLocation(spark, t)
    Dedup.writeHammingIndex(
      (0L until 20L).map(i => (i, 42L)).toDF("id", "h"),
      "ham_dst", maxHamming = 3, buckets = 4)
    val perFp = spark.table("ham_dst").count()
    assert(spark.table("ham_dst").select("id").distinct()
      .as[Long].collect().toSeq == Seq(0L), "min id is the representative")
    Dedup.appendToHammingIndex(
      (100L until 130L).map(i => (i, -1L)).toDF("id", "h"), "ham_dst")
    assert(spark.table("ham_dst").count() == 2 * perFp,
      s"append must collapse duplicate fingerprints (perFp=$perFp)")
  }

  test("semantic index: cross-run embedding dedup drops replays and grows by append") {
    import graft.sources.Warehouse
    for (t <- Seq("sem_xr_idx", "sem_xr_idx_centroids"))
      Warehouse.dropTableAndLocation(spark, t)
    val rng = new scala.util.Random(7)
    def vec() = Array.fill(16)(rng.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, vec())).toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(base, "vec_id", "embedding", "sem_xr_idx",
      nCentroids = 4, lloydIters = 1, buckets = 2)
    // twin of an indexed vector (scaled floats — cosine exactly 1 and the
    // same centroid assignment); a genuinely fresh vector
    val twin = base.filter($"vec_id" === 5L)
      .select(lit(1005L).as("vec_id"),
        transform($"embedding", x => x * lit(1.01f)).as("embedding"))
    val freshVec = vec()
    // premise: the fresh vector matches nothing indexed at the threshold
    val baseVecs = base.as[(Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]) = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    assert(baseVecs.map(v => cos(v._2, freshVec)).max < 0.95, "premise: fresh too close")
    val batch = twin.unionByName(Seq((2000L, freshVec)).toDF("vec_id", "embedding"))
    val out = Dedup.semanticDedupAgainstIndex(batch, "vec_id", "embedding",
      "sem_xr_idx", threshold = 0.95)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(2000L), s"survivors: $out")
    assert(spark.table("sem_xr_idx").count() == 201, "survivor not appended")
    // next "day": an exact replay of the survivor is caught by the grown
    // index — the cross-run contract
    val out2 = Dedup.semanticDedupAgainstIndex(
      Seq((3000L, freshVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", "sem_xr_idx", threshold = 0.95)
      .select("vec_id").as[Long].collect().toSeq
    assert(out2.isEmpty, s"replay survived: $out2")
    assert(spark.table("sem_xr_idx").count() == 201)
    // report-only: a fresh vector survives without growing the index
    val out3 = Dedup.semanticDedupAgainstIndex(
      Seq((4000L, vec())).toDF("vec_id", "embedding"),
      "vec_id", "embedding", "sem_xr_idx", threshold = 0.95, update = false)
      .select("vec_id").as[Long].collect().toSeq
    assert(out3 == Seq(4000L))
    assert(spark.table("sem_xr_idx").count() == 201,
      "update=false must not append")
  }

  test("quantized cross-run semantic dedup: drop set equals the float path's, append serves") {
    import graft.sources.Warehouse
    for (t <- Seq("sem_q_idx", "sem_q_idx_raw", "sem_q_idx_centroids",
      "sem_f_idx", "sem_f_idx_centroids"))
      Warehouse.dropTableAndLocation(spark, t)
    val rng = new scala.util.Random(11)
    def vec() = Array.fill(16)(rng.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, vec()))
    val baseDf = base.toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(baseDf, "vec_id", "embedding", "sem_f_idx",
      nCentroids = 4, lloydIters = 1, buckets = 2)
    Similarity.writeIvfIndexQuantized(baseDf, "vec_id", "embedding",
      "sem_q_idx", nCentroids = 4, lloydIters = 1, buckets = 2)
    // probe batch: scaled replays of indexed vectors (cosine exactly 1),
    // small perturbations (near), fresh gaussians (far) — 60 rows
    val batch = (0 until 60).map { i =>
      val id = 1000L + i
      if (i % 3 == 0) (id, base(i)._2.map(_ * 1.01f))
      else if (i % 3 == 1) (id, base(i)._2.zipWithIndex
        .map { case (x, j) => x + (if (j == 0) 0.05f else 0.0f) })
      else (id, vec())
    }.toDF("vec_id", "embedding")
    val floatDrops = Dedup.semanticDupIdsAgainstIndex(batch,
      "vec_id", "embedding", "sem_f_idx", threshold = 0.9)
      .as[Long].collect().sorted.toSeq
    val quantDrops = Dedup.semanticDupIdsAgainstIndexQuantized(batch,
      "vec_id", "embedding", "sem_q_idx", threshold = 0.9)
      .as[Long].collect().sorted.toSeq
    // the margin admits a superset, the exact rerank reduces it to
    // EXACTLY the float verdict — same centroids (same seeded training),
    // same threshold, same cells
    assert(floatDrops.nonEmpty && floatDrops != (1000L until 1060L).toSeq,
      s"premise: drop set trivial (${floatDrops.size})")
    assert(quantDrops == floatDrops,
      s"missing=${floatDrops.toSet -- quantDrops} spurious=${quantDrops.toSet -- floatDrops}")
    // the full op appends survivors to BOTH the code table and the raw
    // rerank sibling; an exact replay of a survivor then drops next run
    val fresh = Dedup.semanticDedupAgainstIndexQuantized(batch, "vec_id",
      "embedding", "sem_q_idx", threshold = 0.9)
    val freshIds = fresh.select("vec_id").as[Long].collect().sorted.toSeq
    assert(freshIds == (1000L until 1060L).filterNot(quantDrops.contains).toSeq)
    assert(spark.table("sem_q_idx").count() == 200L + freshIds.size)
    assert(spark.table("sem_q_idx_raw").count() == 200L + freshIds.size)
    val replay = Dedup.semanticDedupAgainstIndexQuantized(
      fresh.select((col("vec_id") + 9000).as("vec_id"), col("embedding")),
      "vec_id", "embedding", "sem_q_idx", threshold = 0.9, update = false)
    assert(replay.count() == 0, "exact replays of appended survivors must drop")
    assert(spark.table("sem_q_idx").count() == 200L + freshIds.size,
      "update=false must not append")
  }

  test("minhash index: cross-run NEAR dedup drops mutated replays and grows by append") {
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "on the warm windowsill and the birds sing in the garden every morning " +
      "as the sun rises over the quiet town and the day begins for everyone"
    val mutated = base.replace("windowsill", "doorstep")
    val distinct1 = "an entirely different document about the history of " +
      "distributed query engines and their optimizers planning joins over " +
      "columnar storage layouts for modern large scale analytics workloads"
    val fresh1 = "a new article about bread baking with flour water salt and " +
      "patience plus a hot oven and a heavy pan for the crust and a long " +
      "slow fermentation in the cold cellar overnight before the morning bake"
    val fresh1mut = fresh1.replace("patience", "practice")
    val fresh2 = "yet another unrelated piece on the migration patterns of " +
      "arctic birds and the scientists who follow them across the seasons " +
      "with radio trackers and long patient nights in the northern field camps"
    for (t <- Seq("mh_idx", "mh_idx_sigs", "mh_idx_mhspec"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Dedup.writeMinhashIndex(Seq((1L, base), (2L, distinct1)).toDF("doc_id", "text"),
      "text", "doc_id", "mh_idx", buckets = 4)
    // day 1: a MUTATED replay of an indexed doc (invisible to any exact
    // registry) is dropped; genuinely new content survives AND registers
    val day1 = Seq((10L, mutated), (11L, fresh1)).toDF("doc_id", "text")
    val out1 = Dedup.nearDedupAgainstIndex(day1, "text", "doc_id", "mh_idx",
      minEstJaccard = 0.6)
    assert(out1.select("doc_id").as[Long].collect().toSeq == Seq(11L))
    // the returned frame is STABLE on re-read after its own append grew
    // the index (delta-file contract, same as the exact registry)
    assert(out1.select("doc_id").as[Long].collect().toSeq == Seq(11L))
    // day 2: a near-dup of day 1's SURVIVOR falls to the appended
    // generation; an exact same-text replay would score est 1.0 (subsumes
    // the exact registry); fresh content still passes
    val day2 = Seq((20L, fresh1mut), (21L, fresh2)).toDF("doc_id", "text")
    val out2 = Dedup.nearDedupAgainstIndex(day2, "text", "doc_id", "mh_idx",
      minEstJaccard = 0.6)
    assert(out2.select("doc_id").as[Long].collect().toSeq == Seq(21L))
    // report-only: replaying day 2 drops everything (21 now replays
    // itself at est 1.0) and grows NOTHING
    val (bBands, bSigs) = (spark.table("mh_idx").count(),
      spark.table("mh_idx_sigs").count())
    val replay = Dedup.nearDedupAgainstIndex(day2, "text", "doc_id", "mh_idx",
      minEstJaccard = 0.6, update = false)
    assert(replay.count() == 0)
    assert(spark.table("mh_idx").count() == bBands &&
      spark.table("mh_idx_sigs").count() == bSigs,
      "update=false must not grow the index")
    // the pair surface reports calibrated estimates: the exact replay of
    // 21 scores 1.0, the mutation scores high but below 1
    val pairs = Dedup.nearDupsAgainstIndex(day2, "text", "doc_id", "mh_idx",
      minEstJaccard = 0.0)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((21L, 21L)) == 1.0, s"self replay not 1.0: $pairs")
    assert(pairs((20L, 11L)) > 0.6 && pairs((20L, 11L)) < 1.0,
      s"mutation estimate out of range: ${pairs((20L, 11L))}")
  }

  test("minhash index write caps mega-buckets to skeleton chains") {
    val boiler = "subscribe to our newsletter for daily updates and offers " +
      "terms and conditions apply please read the privacy policy carefully " +
      "and unsubscribe whenever you like from the link in the footer below"
    val distinct1 = "a genuinely unique article about the restoration of old " +
      "sailing ships and the carpenters who keep the craft alive in small " +
      "harbor towns along the rocky northern coast through the winter months"
    val flood = (1L to 100L).map(i => (i, boiler))
    val docs = (flood :+ (500L, distinct1)).toDF("doc_id", "text")
    for (t <- Seq("mh_cap", "mh_cap_sigs", "mh_cap_mhspec"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Dedup.writeMinhashIndex(docs, "text", "doc_id", "mh_cap",
      buckets = 4, maxBucket = 5)
    // identical docs share every band bucket: the cap keeps 5 min-id
    // members per (band, bucket) → 16 bands × 5 + the distinct doc's 16
    val bandRows = spark.table("mh_cap").count()
    assert(bandRows == 16 * 5 + 16, s"band rows: $bandRows")
    // the verdict is unaffected: a boilerplate replay still collides with
    // a retained representative and is dropped
    val probe = Seq((900L, boiler + " tail")).toDF("doc_id", "text")
    val out = Dedup.nearDedupAgainstIndex(probe, "text", "doc_id", "mh_cap",
      minEstJaccard = 0.6, update = false)
    assert(out.count() == 0, "flood replay survived the capped index")
  }

  test("Warehouse.compact collapses append-grown registry files; results and layout survive") {
    import graft.sources.Warehouse
    Warehouse.dropTableAndLocation(spark, "reg_cmp")
    Warehouse.dropTableAndLocation(spark, "reg_cmp__compacting")
    Dedup.createRegistry(spark, "reg_cmp", buckets = 4)
    // three daily batches → each append adds its own files per bucket
    for (d <- 0 until 3) {
      val batch = Seq.tabulate(8)(i => (d * 100L + i, s"registry doc $d $i"))
        .toDF("doc_id", "text")
      Dedup.dedupAgainstRegistry(batch, "text", "doc_id", "reg_cmp").count()
    }
    def files(table: String): Seq[String] = {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      val loc = new org.apache.hadoop.fs.Path(meta.location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).map(_.getPath.getName).filter(_.startsWith("part-")).toSeq
    }
    val beforeFiles = files("reg_cmp")
    val beforeRows = spark.table("reg_cmp").as[String].collect().sorted.toSeq
    assert(beforeRows.size == 24)
    assert(beforeFiles.size > 4, s"appends produced only ${beforeFiles.size} files")
    Warehouse.compact(spark, "reg_cmp")
    // one file per bucket, identical rows, bucket spec intact
    val afterFiles = files("reg_cmp")
    assert(afterFiles.size <= 4, s"compact left ${afterFiles.size} files: $afterFiles")
    assert(spark.table("reg_cmp").as[String].collect().sorted.toSeq == beforeRows)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("reg_cmp"))
    assert(meta.bucketSpec.exists(b => b.numBuckets == 4 &&
      b.bucketColumnNames == Seq("content_hash")))
    // the registry still serves dedup (and appends) exactly as before
    val probe = Dedup.dedupAgainstRegistry(
      Seq((999L, "registry doc 0 0"), (1000L, "fresh doc")).toDF("doc_id", "text"),
      "text", "doc_id", "reg_cmp", update = false)
    assert(probe.select("doc_id").as[Long].collect().toSet == Set(1000L))
  }

  test("Warehouse fragmentation signal + compactIfFragmented + curate() hook") {
    import graft.sources.Warehouse
    import graft.pipeline.CorpusPipeline
    for (t <- Seq("reg_auto", "reg_auto__compacting"))
      Warehouse.dropTableAndLocation(spark, t)
    Dedup.createRegistry(spark, "reg_auto", buckets = 2)
    for (d <- 0 until 4) {
      val batch = Seq.tabulate(6)(i =>
        (d * 100L + i, s"auto compact doc $d $i")).toDF("doc_id", "text")
      Dedup.dedupAgainstRegistry(batch, "text", "doc_id", "reg_auto").count()
    }
    assert(Warehouse.maxFilesPerBucket(spark, "reg_auto") >= 4)
    val rowsBefore = spark.table("reg_auto").as[String].collect().sorted.toSeq
    assert(Warehouse.compactIfFragmented(spark, "reg_auto", maxFiles = 4))
    assert(Warehouse.maxFilesPerBucket(spark, "reg_auto") == 1)
    assert(spark.table("reg_auto").as[String].collect().sorted.toSeq == rowsBefore)
    // under the threshold: a no-op
    assert(!Warehouse.compactIfFragmented(spark, "reg_auto", maxFiles = 4))
    // the curate() hook compacts BEFORE its own append: worst bucket ends
    // at 1 (compacted) + 1 (this run's append) files, and the run still
    // dedups correctly against the compacted registry
    val english = "the quick brown fox jumps over the lazy dog and it was " +
      "happy for the day ahead of everyone in the quiet town "
    for (d <- 4 until 6) {
      val batch = Seq.tabulate(4)(i =>
        (d * 100L + i, english + s"day $d doc $i")).toDF("doc_id", "text")
      val kept = CorpusPipeline.curate(batch, "text", "doc_id",
        CorpusPipeline.Config(minQuality = 0.0, nearDupThreshold = 2.0,
          registryTable = Some("reg_auto"),
          compactEveryNFiles = Some(2))).count()
      assert(kept == 4, s"day $d: curate kept $kept of 4")
    }
    assert(Warehouse.maxFilesPerBucket(spark, "reg_auto") <= 2,
      s"hook left ${Warehouse.maxFilesPerBucket(spark, "reg_auto")} files/bucket")
    // a replay of a day-4 doc is still recognized after compaction
    val probe = Dedup.dedupAgainstRegistry(
      Seq((9999L, english + "day 4 doc 0"), (10000L, english + "genuinely fresh"))
        .toDF("doc_id", "text"),
      "text", "doc_id", "reg_auto", update = false)
    assert(probe.select("doc_id").as[Long].collect().toSet == Set(10000L))
  }

  test("minhashIndexMaxBucket reports cross-generation mega-bucket drift") {
    import graft.sources.Warehouse
    for (tb <- Seq("mh_drift", "mh_drift_sigs", "mh_drift_mhspec"))
      Warehouse.dropTableAndLocation(spark, tb)
    val boiler = "identical boilerplate footer repeated verbatim across the " +
      "whole crawl by a site template engine on every single page it serves"
    val gen0 = Seq.tabulate(4)(i => (i.toLong, boiler)).toDF("doc_id", "text")
    Dedup.writeMinhashIndex(gen0, "text", "doc_id", "mh_drift",
      buckets = 2, maxBucket = 2)
    // the build re-caps globally: 4 identical docs → 2 members per bucket
    assert(Dedup.minhashIndexMaxBucket(spark, "mh_drift") == ((2L, 2)))
    // an appended generation re-caps only WITHIN itself → the hot bucket
    // drifts past the spec cap, and the signal reports it
    Dedup.appendToMinhashIndex(
      Seq.tabulate(4)(i => (100L + i, boiler)).toDF("doc_id", "text"),
      "text", "doc_id", "mh_drift")
    assert(Dedup.minhashIndexMaxBucket(spark, "mh_drift") == ((4L, 2)))
  }

  test("appendBucketedWithDelta refuses partitioned tables loudly") {
    import graft.sources.Warehouse
    Warehouse.dropTableAndLocation(spark, "part_app")
    Warehouse.writeBucketedPartitioned(
      Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "day"),
      "part_app", "day", "id", 2)
    val e = intercept[IllegalArgumentException] {
      Warehouse.appendBucketedWithDelta(
        Seq((3L, "c", 0)).toDF("id", "v", "day"), "part_app", "id")
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("compact crash recovery refuses to delete a stale dir holding foreign files") {
    import graft.sources.Warehouse
    for (t <- Seq("cmp_grd", "cmp_grd__compacting"))
      Warehouse.dropTableAndLocation(spark, t)
    val rows = (1L to 10L).map(i => (i, s"t $i")).toDF("id", "text")
    Warehouse.writeBucketed(rows, "cmp_grd__compacting", "id", 2)
    // plant a stale original dir that is NOT table-shaped (a foreign file)
    val sLoc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("cmp_grd__compacting")).location)
    val stale = new org.apache.hadoop.fs.Path(sLoc.getParent, "cmp_grd")
    val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(stale)
    val rogue = new org.apache.hadoop.fs.Path(stale, "precious-user-data.txt")
    val os = fs.create(rogue); os.write(42); os.close()
    val e = intercept[IllegalArgumentException] {
      Warehouse.compact(spark, "cmp_grd")
    }
    assert(e.getMessage.contains("refusing"))
    assert(fs.exists(rogue), "guard must not delete foreign files")
    // a table-shaped leftover (the real crash residue) is cleared and the
    // staging copy promoted
    fs.delete(rogue, false)
    val partLike = new org.apache.hadoop.fs.Path(stale, "part-00000-stale")
    val os2 = fs.create(partLike); os2.write(1); os2.close()
    Warehouse.compact(spark, "cmp_grd")
    assert(spark.table("cmp_grd").select("id").as[Long].collect().sorted.toSeq
      == (1L to 10L).toSeq)
    assert(!spark.catalog.tableExists("cmp_grd__compacting"))
  }

  test("Warehouse.compact recovers a table stranded mid-rename by a crash") {
    import graft.sources.Warehouse
    // simulate the drop→rename crash window: a complete copy exists under
    // the staging name while the original name is gone — the exact state a
    // crash between compact's drop and rename leaves behind
    for (t <- Seq("cmp_rec", "cmp_rec__compacting"))
      Warehouse.dropTableAndLocation(spark, t)
    val rows = (1L to 100L).map(i => (i, s"text $i")).toDF("id", "text")
    Warehouse.writeBucketed(rows, "cmp_rec", "id", 4)
    Warehouse.writeBucketed(rows, "cmp_rec__compacting", "id", 4)
    Warehouse.dropTableAndLocation(spark, "cmp_rec")
    assert(!spark.catalog.tableExists("cmp_rec"))
    // the next compact finishes the rename before proceeding, then
    // compacts normally — readers get the table back under its own name
    Warehouse.compact(spark, "cmp_rec")
    assert(!spark.catalog.tableExists("cmp_rec__compacting"))
    assert(spark.table("cmp_rec").select("id").as[Long].collect().sorted.toSeq
      == (1L to 100L).toSeq)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("cmp_rec"))
    assert(meta.bucketSpec.exists(_.numBuckets == 4))
  }

  test("Warehouse.compact on a partitioned IVF index keeps probes and pruning") {
    import graft.sources.Warehouse
    val rng = new scala.util.Random(17)
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val gen0 = vecs(0 until 400).toDF("vec_id", "embedding").cache()
    val gen1 = vecs(400 until 500).toDF("vec_id", "embedding").cache()
    for (t <- Seq("ivf_cmp_centroids", "ivf_cmp", "ivf_cmp__compacting"))
      Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndex(gen0, "vec_id", "embedding", "ivf_cmp",
      nCentroids = 8, lloydIters = 1, buckets = 4)
    Similarity.appendToIvfIndex(gen1, "vec_id", "embedding", "ivf_cmp")
    val q = gen1.filter($"vec_id" === 450).select($"embedding".as("qvec"))
    def probeRows() = Similarity.ivfProbePartitioned(spark, "ivf_cmp", q,
      "vec_id", "embedding", k = 10, probes = 4)
    val before = probeRows().as[(Long, Double)].collect().toSeq
    Warehouse.compact(spark, "ivf_cmp")
    // per-cell directories now hold one file per bucket (append added more)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("ivf_cmp"))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (cellDir <- fs.listStatus(loc) if cellDir.getPath.getName.startsWith("cell=")) {
      val n = fs.listStatus(cellDir.getPath)
        .count(_.getPath.getName.startsWith("part-"))
      assert(n <= 4, s"${cellDir.getPath.getName} has $n files after compact")
    }
    assert(meta.partitionColumnNames == Seq("cell") &&
      meta.bucketSpec.exists(_.numBuckets == 4))
    // identical probe results, partition pruning intact
    val after = probeRows()
    assert(after.as[(Long, Double)].collect().toSeq == before)
    val plan = after.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*IN".r.findFirstIn(plan).isDefined,
      s"compact broke cell partition pruning:\n$plan")
  }

  test("boilerplateSpans profiles per-source repeated spans") {
    val corpus = Seq(
      (1L, "s1", "hdr a b one two three"),
      (2L, "s1", "hdr a b four five six"),
      (3L, "s1", "hdr a b seven eight nine"),
      (4L, "s1", "no header in this document"), // 4 docs → hdr frac 0.75
      (5L, "s2", "hdr a b elsewhere entirely now")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.boilerplateSpans(corpus, "text", "doc_id", "source",
      spanTokens = 3, minDocFrac = 0.6)
      .as[(String, String, Long, Double)].collect().toSet
    // only s1's shared header crosses the threshold with > 1 doc; s2's
    // single doc makes every one of its spans trivially frac 1.0
    assert(out.filter(_._3 > 1) == Set(("s1", "hdr a b", 3L, 0.75)))
    assert(out.filter(_._1 == "s2").forall(_._4 == 1.0))
  }

  test("cosineDupPairsExact finds colinear pairs and only those") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f)), // colinear with 1 → cosine 1.0
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(0.6f, 0.8f)) // cosine 0.8 vs 3, 0.6 vs 1
    ).toDF("vec_id", "embedding")
    val hi = Dedup.cosineDupPairsExact(emb, "vec_id", "embedding", 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(hi == Set((1L, 2L, 1.0)))
    val mid = Dedup.cosineDupPairsExact(emb, "vec_id", "embedding", 0.75)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(mid == Set((1L, 2L), (3L, 4L)))
  }

  test("semanticDedup keeps one representative per transitive cosine cluster") {
    // chain at angles 0°/2°/4°: adjacent pairs clear cos(3°) but the chain
    // ends don't — only connected-components semantics merge all three
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array((10 * math.cos(r)).toFloat, (10 * math.sin(r)).toFloat)
    }
    val emb = Seq(
      (1L, v(0)), (2L, v(2)), (3L, v(4)),
      (10L, Array(-10.0f, 0.0f)), // far-away pair, 11.3° apart — same
      (11L, Array(-10.0f, -2.0f)) //  region, but BELOW the dup threshold
    ).toDF("vec_id", "embedding")
    val tau = math.cos(math.toRadians(3)) // ≈ 0.99863
    // exact tier sees only the chain's direct links ((1,3) is below τ) …
    val pairs = Dedup.cosineDupPairsExact(emb, "vec_id", "embedding", tau, roundTo = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)))
    // … and the clustered path resolves them transitively: one survivor
    assert(Dedup.cosineDupPairsExact(emb, "vec_id", "embedding", tau)
      .filter(col("a") === 10L).count() == 0) // the far pair is no dup
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding", tau, nCentroids = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 11L))
  }

  test("semanticDupEdges caps mega-cells to a bounded chain that still collapses") {
    // 5k identical embeddings (one duplicated thumbnail vector) + a few
    // distinct far vectors: identical vectors share one cell, so uncapped
    // pairing would emit ~12.5M pairs; the fingerprint-ordered chain emits
    // 4999, every link cosine-1, and the cluster still folds to one id
    val n = 5000
    val mega = spark.range(1, n + 1).select(col("id").as("vec_id"),
      array(lit(3.0f), lit(4.0f)).as("embedding"))
    val others = Seq(
      (100000L, Array(-5.0f, 1.0f)),
      (100001L, Array(1.0f, -5.0f))).toDF("vec_id", "embedding")
    val emb = mega.unionByName(others)
    val edges = Dedup.semanticDupEdges(emb, "vec_id", "embedding",
      threshold = 0.95, nCentroids = 2, maxCell = 100)
      .as[(Long, Long)].collect()
    assert(edges.length == n - 1, s"expected a ${n - 1}-edge chain, got ${edges.length}")
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.95, nCentroids = 2, maxCell = 100)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 100000L, 100001L))
    // cells at or under the bound pair exhaustively: on a corpus with no
    // mega-cell the default cap finds exactly the direct cosine links
    val chain3 = Seq(
      (1L, Array(10.0f, 0.0f)), (2L, Array(9.994f, 0.349f)),
      (3L, Array(9.976f, 0.698f)), (10L, Array(-10.0f, 0.0f)),
      (11L, Array(-10.0f, -2.0f))).toDF("vec_id", "embedding")
    val tau = math.cos(math.toRadians(3))
    val std = Dedup.semanticDupEdges(chain3, "vec_id", "embedding", tau,
      nCentroids = 2).as[(Long, Long)].collect().toSet
    assert(std == Set((1L, 2L), (2L, 3L)))
  }

  test("semanticDedupIndexed matches the per-call path from a persisted index") {
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array((10 * math.cos(r)).toFloat, (10 * math.sin(r)).toFloat)
    }
    val emb = Seq(
      (1L, v(0)), (2L, v(2)), (3L, v(4)),
      (10L, Array(-10.0f, 0.0f)), (11L, Array(-10.0f, -2.0f))
    ).toDF("vec_id", "embedding")
    val tau = math.cos(math.toRadians(3))
    for (t <- Seq("semdedup_idx", "semdedup_idx_centroids"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", "semdedup_idx",
      nCentroids = 2, lloydIters = 1, buckets = 2)
    // same corpus + training parameters → same survivors as the per-call
    // path (shared pairing core; only the assignment's provenance differs)
    val direct = Dedup.semanticDedup(emb, "vec_id", "embedding", tau, nCentroids = 2)
      .select("vec_id").as[Long].collect().toSet
    val indexed = Dedup.semanticDedupIndexed(spark, "semdedup_idx",
      "vec_id", "embedding", tau)
      .select("vec_id").as[Long].collect().toSet
    assert(indexed == direct && indexed == Set(1L, 10L, 11L))
  }

  test("semanticDedupIndexed dedups across appended index generations") {
    // generation 0 builds the index; generation 1 arrives later with
    // exact twins of gen-0 vectors and is APPENDED (no retrain) — the
    // indexed dedup must pair twins across the two generations and keep
    // the gen-0 originals
    val rng = new scala.util.Random(11)
    val gen0 = (0L until 40L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    for (t <- Seq("semdedup_app", "semdedup_app_centroids"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndex(gen0, "vec_id", "embedding", "semdedup_app",
      nCentroids = 4, lloydIters = 1, buckets = 2)
    val gen1 = gen0.filter($"vec_id" % 4 === 0)
      .withColumn("vec_id", $"vec_id" + 1000L)
    Similarity.appendToIvfIndex(gen1, "vec_id", "embedding", "semdedup_app")
    val kept = Dedup.semanticDedupIndexed(spark, "semdedup_app",
      "vec_id", "embedding", threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == (0L until 40L).toSet,
      s"appended twins must drop, originals survive: got $kept")
  }

  test("nearDuplicates end-to-end finds planted dup pairs above threshold") {
    val pairs = Dedup.nearDuplicates(docs, "text", "doc_id", threshold = 0.5,
      bands = 32).as[(Long, Long, Double)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 2L)))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
    assert(ids.contains((1L, 3L)))
    assert(!ids.exists { case (a, b) => a >= 4L || b >= 4L })
    val survivors = Dedup.nearDedup(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(survivors == Seq(1L, 4L, 5L))
  }

  test("bloom contamination equals the exact broadcast path on planted leaks") {
    val bench = Seq((100L, "held out benchmark question about spark engines and their joins ok"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "clean document with entirely unrelated words in it for this test of ours"),
      (2L, "scraped page quoting the held out benchmark question about spark engines and their joins ok verbatim"),
      (3L, "another clean page of plain words nothing shared here with anything at all")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().sortBy(_._1).toSeq
    val exact = rows(Dedup.contamination(corpus, bench, "text", "doc_id", n = 5))
    val bloom = rows(Dedup.contaminationBloom(corpus, bench, "text", "doc_id", n = 5))
    assert(bloom == exact)
    assert(exact.map(_._1) == Seq(2L), s"only doc 2 leaks: $exact")
  }

  test("rareTokenStats profiles corpus-frequency rarity per document") {
    val docs = Seq(
      (1L, "common common unique1"),  // min freq 1, one hapax of 3 tokens
      (2L, "common common common"),   // min freq = corpus count of 'common'
      (3L, "unique2 unique3")         // all hapax
    ).toDF("doc_id", "text")
    val out = graft.text.TextOps.rareTokenStats(docs, "text", "doc_id")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 1L, 1L, 0.3333), // 'common' ×5 corpus-wide, unique1 hapax
      (2L, 5L, 0L, 0.0),
      (3L, 1L, 2L, 1.0)))
  }

  test("hardNegatives: band excludes dups and dissimilars, per-anchor " +
    "top-k with id tie-breaks") {
    val rows = Seq(
      (0L, Array(1f, 0f)),      // anchor
      (1L, Array(1f, 0f)),      // duplicate: sim 1.0 -> above hi, excluded
      (2L, Array(0.6f, 0.8f)),  // sim 0.6 -> in band
      (3L, Array(0f, 1f)),      // sim 0.0 -> below lo, excluded
      (4L, Array(0.8f, 0.6f)),  // sim 0.8 -> in band, ranks first
      (5L, Array(-1f, 0f)),     // sim -1 -> excluded
      (6L, Array(0.6f, -0.8f))  // sim 0.6 -> ties with 2, loses by id
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(rows,
        rows.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 3, loSim = 0.2, hiSim = 0.9)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2).toSeq
    assert(out === Seq(
      (0L, 1, 4L, 0.8), (0L, 2, 2L, 0.6), (0L, 3, 6L, 0.6)))
    // k caps; anchor never its own negative
    val k1 = Similarity.hardNegatives(rows,
      rows.filter(col("vec_id") === 0L), "vec_id", "embedding",
      k = 1, loSim = 0.2, hiSim = 0.9).collect()
    assert(k1.length === 1 && k1.head.getLong(2) === 4L)
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(rows, rows, "vec_id", "embedding",
        k = 1, loSim = 0.9, hiSim = 0.2)
    }
  }

  test("fixText repairs mojibake all-or-nothing, composes NFC, strips " +
    "controls") {
    import graft.text.TextOps
    def fix(s: String): String = {
      val out = Seq(Tuple1(s)).toDF("t")
        .select(TextOps.fixText(col("t")).as("f")).collect()
      out(0).getString(0)
    }
    // 2-byte mojibake: Caf + U+00C3 U+00A9 repairs to Caf + U+00E9
    assert(fix("Caf\u00C3\u00A9") === "Caf\u00E9")
    // cp1252 3-byte smart quote: don + U+00E2 U+20AC U+2122 + t
    assert(fix("don\u00E2\u20AC\u2122t") === "don\u2019t")
    // raw-C1 (latin-1 read) flavor: q + U+00E2 U+0080 U+0099 + s
    assert(fix("q\u00E2\u0080\u0099s") === "q\u2019s")
    // GENUINE latin-1 text untouched: e9+space is not valid UTF-8
    assert(fix("Caf\u00E9 25\u00B0C") === "Caf\u00E9 25\u00B0C")
    // all-or-nothing: one real e-acute blocks repair of the whole string
    assert(fix("Caf\u00C3\u00A9 x\u00E9") === "Caf\u00C3\u00A9 x\u00E9")
    // NFC composes decomposed accents: e + combining acute
    assert(fix("Resume\u0301") === "Resum\u00E9")
    // zero-width stripped, NUL stripped, CRLF/CR canonicalized, tab kept
    assert(fix("A\u200BB\r\nC\rD\tE\u0000F") === "AB\nC\nD\tEF")
    // null propagates; pure ASCII identity
    assert(fix("plain text") === "plain text")
    val nul = Seq(Tuple1(null: String)).toDF("t")
      .select(TextOps.fixText(col("t")).as("f")).collect()
    assert(nul(0).isNullAt(0))
  }

  test("keywords ranks by smoothed TF-IDF with deterministic tie-breaks") {
    val docs = Seq(
      (1L, Option("apple apple banana shared")),
      (2L, Option("banana cherry shared")),
      (3L, Option("shared shared durian")),
      (4L, Option("x y")),      // equal scores: token breaks the tie
      (5L, Option.empty[String]) // null text → no rows
    ).toDF("doc_id", "text")
    val out = graft.text.TextOps.keywords(docs, "text", "doc_id", k = 3)
      .as[(Long, Int, String, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // N=4 non-null-irrelevant: countDistinct(doc_id)=5 → ln((5+1)/(df+1))
    val l6_2 = BigDecimal(2 * math.log(6.0 / 2)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble // apple tf2 df1
    val l6_2a = BigDecimal(math.log(6.0 / 2)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble // tf1 df1
    val l6_3 = BigDecimal(math.log(6.0 / 3)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble // banana tf1 df2
    val l6_4 = BigDecimal(math.log(6.0 / 4)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble // shared df3
    assert(out.filter(_._1 == 1L) === Seq(
      (1L, 1, "apple", l6_2), (1L, 2, "banana", l6_3),
      (1L, 3, "shared", l6_4)))
    assert(out.filter(_._1 == 2L).map(r => (r._2, r._3)) ===
      Seq((1, "cherry"), (2, "banana"), (3, "shared")))
    assert(out.filter(_._1 == 4L).map(r => (r._2, r._3)) ===
      Seq((1, "x"), (2, "y"))) // tie → token ascending
    assert(!out.exists(_._1 == 5L))
    // k caps the fan-out
    val k1 = graft.text.TextOps.keywords(docs, "text", "doc_id", k = 1)
      .as[(Long, Int, String, Double)].collect()
    assert(k1.count(_._1 == 1L) === 1)
    intercept[IllegalArgumentException] {
      graft.text.TextOps.keywords(docs, "text", "doc_id", k = 0)
    }
  }

  test("repetitionStats flags stuffed docs; redactPii masks planted PII") {
    import graft.text.TextOps
    val docs = Seq(
      (1L, "spam spam spam spam ham"),                    // stuffed: top 4/5
      (2L, "five distinct words entirely here")            // clean: top 1/5
    ).toDF("doc_id", "text")
    val stats = TextOps.repetitionStats(docs, "text", "doc_id")
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    assert(stats(0) == ((1L, 0.8, 0.6)))  // 4/5 top word; 1 - 2/5 dup
    assert(stats(1) == ((2L, 0.2, 0.0)))
    val pii = Seq((1L,
      "reach me at jane.doe+spam@mail.example.org or 192.168.1.77, " +
        "call +44 20 7946 0958 anytime")).toDF("doc_id", "text")
    val red = pii.select(TextOps.redactPii($"text")).as[String].head()
    assert(red == "reach me at <EMAIL> or <IP>, call <PHONE> anytime", red)
    // symbol density: half the chars are punctuation
    val sr = Seq((1L, "ab!?")).toDF("doc_id", "text")
      .select(TextOps.symbolRatio($"text")).as[Double].head()
    assert(sr == 0.5)
  }

  test("hashed grams ≡ string grams on trailing-whitespace and short docs") {
    // the divergence class the oracle can't see (driver tables are clean):
    // trailing/leading whitespace makes Spark's split keep empty tokens,
    // and sub-n-token docs take the degenerate-gram branch — both
    // representations must induce the SAME similarity on such pairs
    val docs = Seq(
      (1L, "alpha beta gamma delta "), // trailing space → empty token kept
      (2L, "alpha beta gamma delta"),
      (3L, "a  b"),                    // run of spaces, degenerate length
      (4L, "a b"),
      (5L, " lead"),                   // leading space → empty first token
      (6L, "lead")
    ).toDF("doc_id", "text")
    def pairwise(grams: org.apache.spark.sql.Column) = {
      val g = docs.select($"doc_id", grams.as("g"))
      g.alias("x").crossJoin(g.alias("y"))
        .filter($"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("a"), $"y.doc_id".as("b"),
          round(Dedup.jaccardOfSets($"x.g", $"y.g"), 6).as("j"))
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    }
    for (n <- Seq(2, 5))
      assert(pairwise(Dedup.ngramHashSet($"text", n)) == pairwise(Dedup.ngramSet($"text", n)),
        s"hashed and string $n-grams disagree")
    // and the degenerate branch keys on the token sequence: a whitespace
    // run is NOT a distinguishing feature of a short doc
    assert(pairwise(Dedup.ngramHashSet($"text", 5))
      .find(r => r._1 == 3L && r._2 == 4L).get._3 == 1.0)
  }

  test("dupClusters labels transitive chains with the component minimum") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("a", "b")
    val labels = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("leakage-safe split: a near-dup cluster lands in ONE split; " +
    "singletons split independently; the draw matches t07's convention " +
    "on the label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val ids = (1L to 20L).toDF("vec_id")
    val out = Dedup.leakageSafeSplit(ids, "vec_id", pairs)
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // clusters: {1,2,3} label 1, {7,8} label 7; the rest label themselves
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L && out(3L)._1 == 1L)
    assert(out(7L)._1 == 7L && out(8L)._1 == 7L)
    assert(out(4L)._1 == 4L && out(20L)._1 == 20L)
    // the leakage guarantee: every cluster member shares one split
    assert(Set(out(1L)._2, out(2L)._2, out(3L)._2).size == 1)
    assert(out(7L)._2 == out(8L)._2)
    // and the draw is exactly splitAssign(label) — t07's md5 convention
    val expect = (1L to 20L)
      .map(i => i.toString).toDF("s")
      .select(col("s"), graft.text.TextOps.splitAssign(col("s")).as("split"))
      .as[(String, String)].collect().toMap
    for (i <- 1L to 20L)
      assert(out(i)._2 == expect(out(i)._1.toString), s"id $i")
    intercept[IllegalArgumentException] {
      Dedup.leakageSafeSplit(ids, "vec_id", pairs, trainPct = 80, valPct = 30)
    }
  }

  test("dupClusters with a reliable checkpoint dir matches the local mode") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("a", "b")
    val local = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val reliable = Dedup.dupClusters(pairs,
        checkpointing = graft.pipeline.Materialize.Reliable(dir),
        driverBound = 0) // force the distributed rounds this spec exercises
      .as[(Long, Long)].collect().toMap
    assert(reliable == local)
    // reliable mode spills rounds into the REQUESTED dir (never a
    // session-level checkpoint location), one unique path per round, and
    // deletes each round as soon as the next supersedes it — only this
    // run's final round files remain
    import scala.jdk.CollectionConverters._
    val rounds = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("cc-labels-")).toSeq
    assert(rounds.size == 1, s"expected exactly the final round's spill, found: $rounds")
  }

  test("dupClusters converges on a 10k-node chain with a constant-depth plan") {
    // a path graph is the worst case for 1-hop propagation (diameter = n);
    // pointer jumping must close it in O(log n) rounds within maxIter
    val n = 10000L
    val pairs = spark.range(n - 1).selectExpr("id AS a", "id + 1 AS b")
    val out = Dedup.dupClusters(pairs, driverBound = 0) // distributed path
    assert(out.filter($"label" =!= 0L).count() == 0, "chain did not fully converge")
    assert(out.count() == n)
    // localCheckpoint each round ⇒ the returned plan must NOT contain the
    // accreted per-round joins (bounded lineage at any iteration count)
    val planLines = out.queryExecution.optimizedPlan.toString.linesIterator.size
    assert(planLines < 50, s"plan depth grew with iterations: $planLines lines")
  }

  test("dupClusters matches a driver union-find on a random graph") {
    val rng = new scala.util.Random(11)
    val nNodes = 20000
    val edges = Seq.fill(30000)((rng.nextInt(nNodes).toLong, rng.nextInt(nNodes).toLong))
      .filter { case (a, b) => a != b }
    val labels = Dedup.dupClusters(edges.toDF("a", "b"), driverBound = 0)
      .as[(Long, Long)].collect().toMap
    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val oracle = touched.map(x => x -> find(x)).toMap
    // union-find roots are path-minimums by construction of the merge rule;
    // normalize both sides to the component's minimum member
    val oracleMin = touched.groupBy(oracle).flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }
    assert(labels == oracleMin)
    // the small-graph fast path (default bound covers these 30k edges)
    // returns the identical labeling
    val fast = Dedup.dupClusters(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(fast == labels)
  }

  test("simhash: identical texts equal, near-dups within few bits, unrelated far") {
    val h = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) <= 12)
    assert(java.lang.Long.bitCount(h(1L) ^ h(4L)) > 12)
  }

  test("ngram jaccard: dup=1.0, near-dup high, unrelated low") {
    val a = docs.filter($"doc_id" === 1).select($"text".as("ta"))
    def j(other: Long): Double = {
      val b = docs.filter($"doc_id" === other).select($"text".as("tb"))
      a.crossJoin(b).select(Dedup.ngramJaccard($"ta", $"tb", 2).as("j")).as[Double].head()
    }
    assert(j(2L) == 1.0)
    assert(j(3L) > 0.6)
    assert(j(4L) < 0.1)
  }

  test("cosine + brute-force knn ranks an identical vector first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val top = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 3)
      .as[(Long, Double)].collect()
    assert(top.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(top.head._2 == 1.0)
  }

  test("lsh knn achieves high recall vs brute force on random vectors") {
    val rng = new scala.util.Random(1)
    val vecs = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
    val emb = vecs.toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val exact = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val approx = Similarity.lshKnn(emb, q, "vec_id", "embedding", k = 10,
      dim = 16, bits = 6, tables = 8).as[(Long, Double)].collect().map(_._1).toSet
    assert(exact.intersect(approx).size >= 6, s"recall too low: ${exact.intersect(approx).size}/10")
  }

  test("projected knn: JL candidates + exact rerank recover the exact top-k") {
    // planted neighbor structure (the case retrieval actually serves):
    // ids 1..19 are noisy copies of the query, the rest unrelated noise.
    // All-random Gaussian corpora have no real neighbors — every cosine
    // is a near-tie and NO sketch preserves near-tie order; that is a
    // property of the data, not the operator.
    val rng = new scala.util.Random(11)
    val base = Array.fill(32)(rng.nextGaussian().toFloat)
    def noisy(scale: Float) =
      base.map(x => x + scale * rng.nextGaussian().toFloat)
    val emb = ((0L, base) +: (1L until 20L).map(i => (i, noisy(0.2f))) ++:
      (20L until 500L).map(i =>
        (i, Array.fill(32)(rng.nextGaussian().toFloat)))).toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val exact = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 10)
      .as[(Long, Double)].collect()
    val proj = Similarity.bruteForceKnnProjected(emb, q, "vec_id", "embedding",
      k = 10, dim = 32, projDim = 8, overfetch = 8)
      .as[(Long, Double)].collect()
    // rerank is EXACT, so every returned sim equals the exact scan's sim
    // for that id, and recall is high (JL at 8 dims, 8x overfetch)
    val exactMap = exact.toMap
    proj.foreach { case (id, sim) =>
      assert(!exactMap.contains(id) || exactMap(id) == sim) }
    val recall = exact.map(_._1).toSet.intersect(proj.map(_._1).toSet).size
    assert(recall >= 9, s"recall too low: $recall/10")
    // the projection itself is deterministic at any partitioning
    val p1 = Similarity.projectEmbeddings(emb, "embedding", "p", 32, 8)
      .select($"vec_id", $"p").as[(Long, Seq[Float])].collect().toMap
    val p2 = Similarity.projectEmbeddings(emb.repartition(7), "embedding", "p", 32, 8)
      .select($"vec_id", $"p").as[(Long, Seq[Float])].collect().toMap
    assert(p1 == p2)
    assert(p1(0L).length == 8)
  }

  test("ivf knn achieves reasonable recall vs brute force") {
    val rng = new scala.util.Random(3)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val exact = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val approx = Similarity.ivfKnn(emb, q, "vec_id", "embedding", k = 10,
      nCentroids = 8, probes = 4).as[(Long, Double)].collect().map(_._1).toSet
    assert(exact.intersect(approx).size >= 5,
      s"recall too low: ${exact.intersect(approx).size}/10")
  }

  test("one-pass hyperplane signatures equal the per-table signature column") {
    val rng = new scala.util.Random(5)
    val emb = (0L until 50L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val bits = 6; val tables = 4
    val onePass = emb.select($"vec_id",
        Similarity.hyperplaneSignatures($"embedding", 16, bits, tables).as("sigs"))
      .as[(Long, Seq[Long])].collect().toMap
    for (t <- 0 until tables) {
      val single = emb.select($"vec_id",
          Similarity.hyperplaneSignature($"embedding", 16, bits, seed = 7L + t).as("sig"))
        .as[(Long, Long)].collect().toMap
      for ((id, sigs) <- onePass) {
        assert((sigs(t) & ((1L << bits) - 1)) == single(id),
          s"table $t signature mismatch for vec $id")
        assert((sigs(t) >> bits) == t.toLong, "table tag missing from high bits")
      }
    }
  }

  test("bucketed LSH probe matches lshKnn and prunes buckets (no full scan)") {
    val rng = new scala.util.Random(7)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    spark.sql("DROP TABLE IF EXISTS lsh_idx")
    val loc = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "lsh_idx")
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    Similarity.writeLshIndex(emb, "vec_id", "embedding", "lsh_idx",
      dim = 16, bits = 6, tables = 8, buckets = 16)
    val direct = Similarity.lshKnn(emb, q, "vec_id", "embedding", k = 10,
      dim = 16, bits = 6, tables = 8).as[(Long, Double)].collect().toSeq
    // point-lookup probes rely on bucket pruning, which the planner's
    // "unnecessary bucketed scan" heuristic would otherwise turn off
    // (it only credits joins/aggregations, not filter pruning)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val probe = Similarity.lshProbeBucketed(spark, "lsh_idx", q, "vec_id", "embedding",
        k = 10, dim = 16, bits = 6, tables = 8)
      assert(probe.as[(Long, Double)].collect().toSeq == direct)
      // the probe's scan must select a subset of buckets (bucket pruning),
      // not read the whole index
      val plan = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in plan:\n$plan")
      assert(m.get.group(1).toInt < m.get.group(2).toInt, "probe read every bucket")
    } finally spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("multi-probe LSH: monotone candidates, recall rises, still pruned") {
    val rng = new scala.util.Random(11)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    graft.sources.Warehouse.dropTableAndLocation(spark, "lsh_mp")
    graft.sources.Warehouse.dropTableAndLocation(spark, "lsh_mp_lshspec")
    Similarity.writeLshIndex(emb, "vec_id", "embedding", "lsh_mp",
      dim = 16, bits = 6, tables = 2, buckets = 64)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val truth = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 20)
        .collect().map(_.getLong(0)).toSet
      def cands(nProbes: Int) = Similarity.lshProbeBucketedMulti(spark,
          "lsh_mp", q, "vec_id", "embedding", k = 500, nProbes = nProbes)
        .collect().map(_.getLong(0)).toSet
      // nProbes=1 is exactly the single-probe candidate set
      val single = Similarity.lshProbeBucketed(spark, "lsh_mp", q, "vec_id",
        "embedding", k = 500, dim = 16, bits = 6, tables = 2)
        .collect().map(_.getLong(0)).toSet
      val c1 = cands(1)
      assert(c1 == single, s"${c1.size} vs ${single.size}")
      // candidate sets grow monotonically with the probe count
      val (c4, c16) = (cands(4), cands(16))
      assert(c1.subsetOf(c4) && c4.subsetOf(c16))
      // and recall against the exact top-20 is non-decreasing — with only
      // 2 tables the single probe misses neighbors multi-probe recovers
      def recall(c: Set[Long]) = (c & truth).size
      assert(recall(c16) >= recall(c4) && recall(c4) >= recall(c1))
      assert(recall(c16) > recall(c1),
        s"multi-probe recovered nothing: ${recall(c1)} -> ${recall(c16)}")
      // the probe is still a pruned point lookup, not an index scan
      val plan = Similarity.lshProbeBucketedMulti(spark, "lsh_mp", q,
          "vec_id", "embedding", k = 10, nProbes = 4)
        .queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
        s"multi-probe read every bucket:\n$plan")
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("cloneSession isolates conf overrides but shares context and catalog") {
    // the t29 probe disables the autoBucketedScan heuristic on a session
    // CLONE — the override must hold for the clone's planning without
    // ever touching the shared session (the query registry must have no
    // cross-query side effects)
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val before = spark.conf.get(key)
    val clone = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark)
    clone.conf.set(key, "false")
    assert(spark.conf.get(key) == before, "clone override leaked to shared session")
    assert(clone.conf.get(key) == "false")
    assert(clone.sparkContext eq spark.sparkContext)
    // persistent tables resolve through the SHARED external catalog
    assert(clone.catalog.listTables().collect().map(_.name).toSet ==
      spark.catalog.listTables().collect().map(_.name).toSet)
  }

  test("appendToLshIndex serves both generations with pruning intact") {
    val rng = new scala.util.Random(23)
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val gen0 = vecs(0 until 400).toDF("vec_id", "embedding").cache()
    val gen1 = vecs(400 until 500).toDF("vec_id", "embedding").cache()
    for (t <- Seq("lsh_app", "lsh_app_lshspec"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeLshIndex(gen0, "vec_id", "embedding", "lsh_app",
      dim = 16, bits = 6, tables = 8, buckets = 16)
    Similarity.appendToLshIndex(gen1, "vec_id", "embedding", "lsh_app")
    // the appended rows carry exactly the signatures a full build computes
    // (data-independent directions from the persisted spec): the grown
    // index must row-equal a from-scratch build over both generations
    val full = gen0.unionByName(gen1)
      .withColumn("sig", explode(Similarity.hyperplaneSignatures(
        $"embedding", 16, 6, 8)))
      .select($"vec_id", $"sig").as[(Long, Long)].collect().sorted.toSeq
    val grown = spark.table("lsh_app").select($"vec_id", $"sig")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(grown == full, "grown index diverges from a fresh build")
    // a probe of an appended vector returns it top-1, pre-append neighbors
    // still appear, and bucket pruning still reaches the scan
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val q = gen1.filter($"vec_id" === 450).select($"embedding".as("qvec"))
      val probe = Similarity.lshProbeBucketed(spark, "lsh_app", q,
        "vec_id", "embedding", k = 10, dim = 16, bits = 6, tables = 8)
      val rows = probe.as[(Long, Double)].collect().toSeq
      assert(rows.head == ((450L, 1.0)), s"self not top-1: ${rows.head}")
      assert(rows.exists(_._1 < 400L), s"no pre-append generation rows: $rows")
      val plan = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(plan)
      assert(m.isDefined && m.get.group(1).toInt < m.get.group(2).toInt,
        s"append broke bucket pruning:\n$plan")
    } finally spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("ivf lloyd refinement does not hurt recall and moves centroids") {
    val rng = new scala.util.Random(3)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    val exact = Similarity.bruteForceKnn(emb, q, "vec_id", "embedding", k = 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    def recall(iters: Int): Int = {
      val approx = Similarity.ivfKnn(emb, q, "vec_id", "embedding", k = 10,
        nCentroids = 8, probes = 4, lloydIters = iters)
        .as[(Long, Double)].collect().map(_._1).toSet
      exact.intersect(approx).size
    }
    val (sampled, refined) = (recall(0), recall(1))
    assert(refined >= sampled, s"refinement hurt recall: $refined < $sampled")
    val (_, c0) = Similarity.ivfAssign(emb, "vec_id", "embedding", 8, lloydIters = 0)
    val (_, c1) = Similarity.ivfAssign(emb, "vec_id", "embedding", 8, lloydIters = 1)
    assert(c0.map(_._2.toSeq) != c1.map(_._2.toSeq), "lloyd iteration was a no-op")
  }

  test("d04 adjacent-rank jaccard candidates emit rows on the driver tables") {
    // regression guard for the vacuous-candidate bug: the query must pair
    // every adjacent rank within a source, so on n docs across s sources it
    // emits min(50, n - s) rows — never zero
    val out = graft.queries.DedupQ.queries("d04_jaccard_pairs")(
      spark, "/root/testdata/sf0.001")
    assert(out.count() > 0, "d04 produced no candidate pairs")
  }

  test("batched ivf equals single-query ivf and caps k per probe") {
    val rng = new scala.util.Random(3)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    val single = Similarity.ivfKnn(emb,
        emb.filter($"vec_id" === 0).select($"embedding".as("qvec")),
        "vec_id", "embedding", k = 10, nCentroids = 8, probes = 4)
      .as[(Long, Double)].collect().toSeq
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("qvec"))
    val batch = Similarity.ivfKnnBatch(emb, queries, "vec_id", "embedding",
      "probe_id", k = 10, nCentroids = 8, probes = 4)
    val byProbe = batch.as[(Long, Long, Double)].collect().groupBy(_._1)
    assert(byProbe.keySet == Set(0L, 1L, 2L))
    assert(byProbe.values.forall(_.length == 10))
    // probe 0's ranked list must equal the single-query path exactly
    assert(byProbe(0L).sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq == single)
  }

  test("persisted ivf index probe equals direct ivf and prunes cell partitions") {
    val rng = new scala.util.Random(3)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
    for (t <- Seq("ivf_idx_centroids", "ivf_idx")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", "ivf_idx",
      nCentroids = 8, lloydIters = 1, buckets = 4)
    // same training parameters → the indexed probe must be row-identical to
    // the direct (per-call training) path
    val direct = Similarity.ivfKnn(emb, q, "vec_id", "embedding", k = 10,
      nCentroids = 8, probes = 4, lloydIters = 1).as[(Long, Double)].collect().toSeq
    val probe = Similarity.ivfProbePartitioned(spark, "ivf_idx", q,
      "vec_id", "embedding", k = 10, probes = 4)
    assert(probe.as[(Long, Double)].collect().toSeq == direct)
    // the cell IN-list must reach the scan as a static partition filter —
    // that is what makes the probe read 4 of 8 directories, not the corpus
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pf = "PartitionFilters: \\[[^\\]]*cell[^\\]]*IN".r.findFirstIn(plan)
    assert(pf.isDefined, s"no cell partition pruning in probe plan:\n$plan")
    // and the index really is laid out as one directory per cell
    val idxLoc = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "ivf_idx")
    val cellDirs = java.nio.file.Files.list(idxLoc).iterator()
    var nCells = 0
    while (cellDirs.hasNext) { if (cellDirs.next().getFileName.toString.startsWith("cell=")) nCells += 1 }
    assert(nCells == 8, s"expected 8 cell partition dirs, found $nCells")
  }

  test("appendToIvfIndex serves both generations without retraining") {
    val rng = new scala.util.Random(9)
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val gen0 = vecs(0 until 400).toDF("vec_id", "embedding").cache()
    val gen1 = vecs(400 until 500).toDF("vec_id", "embedding").cache()
    for (t <- Seq("ivf_app_centroids", "ivf_app"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndex(gen0, "vec_id", "embedding", "ivf_app",
      nCentroids = 8, lloydIters = 1, buckets = 4)
    Similarity.appendToIvfIndex(gen1, "vec_id", "embedding", "ivf_app")
    assert(spark.table("ivf_app").count() == 500)
    // appends are EXACTLY a fixed-centroid assignment: every appended row's
    // cell equals the nearest persisted centroid (no retrain, no drift)
    val centroids = Similarity.readIvfCentroids(spark, "ivf_app")
    val appended = spark.table("ivf_app").filter($"vec_id" >= 400)
      .select($"vec_id", $"embedding", $"cell")
      .as[(Long, Array[Float], Int)].collect()
    assert(appended.length == 100)
    appended.foreach { case (id, v, cell) =>
      assert(cell == Similarity.nearestCells(v, centroids, 1).head,
        s"appended vec $id landed in cell $cell, not its nearest centroid") }
    // a probe sees both generations: the appended query vector itself tops
    // the ranking and pre-append neighbors still appear
    val q = gen1.filter($"vec_id" === 450).select($"embedding".as("qvec"))
    val probe = Similarity.ivfProbePartitioned(spark, "ivf_app", q,
      "vec_id", "embedding", k = 10, probes = 4)
    val rows = probe.as[(Long, Double)].collect().toSeq
    assert(rows.head == ((450L, 1.0)), s"self not top-1: ${rows.head}")
    assert(rows.exists(_._1 < 400L), s"no pre-append generation rows: $rows")
    // and the probe still partition-prunes (append kept the cell layout)
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*IN".r.findFirstIn(plan).isDefined,
      s"append broke cell partition pruning:\n$plan")
  }

  test("quantized IVF probe reranks to the uncompressed probe's exact rows") {
    val rng = new scala.util.Random(41)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    for (t <- Seq("ivf_q", "ivf_q_raw", "ivf_q_centroids",
        "ivf_qf", "ivf_qf_centroids"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", "ivf_qf",
      nCentroids = 8, lloydIters = 1, buckets = 4)
    Similarity.writeIvfIndexQuantized(emb, "vec_id", "embedding", "ivf_q",
      nCentroids = 8, lloydIters = 1, buckets = 4)
    // the codes really are 1 byte/dim: the quantized cell table stores
    // binary codes, not float arrays
    val row = spark.table("ivf_q").head()
    assert(row.getAs[Array[Byte]]("code").length == 16)
    for (q <- Seq(0L, 7L, 123L)) {
      val qv = emb.filter($"vec_id" === q).select($"embedding".as("qvec"))
      val full = Similarity.ivfProbePartitioned(spark, "ivf_qf", qv,
        "vec_id", "embedding", k = 10, probes = 4)
        .as[(Long, Double)].collect().toSeq
      // generous shortlist ⊇ true top-10 → exact-rerank arithmetic makes
      // the quantized path row-IDENTICAL to the uncompressed probe
      val quant = Similarity.ivfProbeQuantized(spark, "ivf_q", qv,
        "vec_id", "embedding", k = 10, probes = 4, shortlist = 100)
        .as[(Long, Double)].collect().toSeq
      assert(quant == full, s"query $q: quantized $quant vs full $full")
      assert(quant.head == ((q, 1.0)), s"query $q not its own top-1")
    }
  }

  test("PQ IVF probe reranks to the uncompressed probe's exact rows") {
    val rng = new scala.util.Random(43)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    for (t <- Seq("ivf_pq", "ivf_pq_raw", "ivf_pq_centroids", "ivf_pq_pq",
        "ivf_pqf", "ivf_pqf_centroids"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", "ivf_pqf",
      nCentroids = 8, lloydIters = 1, buckets = 4)
    Similarity.writeIvfIndexPq(emb, "vec_id", "embedding", "ivf_pq",
      nCentroids = 8, lloydIters = 1, buckets = 4, m = 8, trainRows = 500)
    // codes really are m bytes (here 2 dims per byte: 8× smaller than raw)
    val row = spark.table("ivf_pq").head()
    assert(row.getAs[Array[Byte]]("code").length == 8)
    for (q <- Seq(0L, 7L, 123L)) {
      val qv = emb.filter($"vec_id" === q).select($"embedding".as("qvec"))
      val full = Similarity.ivfProbePartitioned(spark, "ivf_pqf", qv,
        "vec_id", "embedding", k = 10, probes = 4)
        .as[(Long, Double)].collect().toSeq
      // covering shortlist ⊇ true top-10 → exact rerank makes the PQ path
      // row-IDENTICAL to the uncompressed probe
      val pq = Similarity.ivfProbePq(spark, "ivf_pq", qv,
        "vec_id", "embedding", k = 10, probes = 4, shortlist = 100)
        .as[(Long, Double)].collect().toSeq
      assert(pq == full, s"query $q: pq $pq vs full $full")
      assert(pq.head == ((q, 1.0)), s"query $q not its own top-1")
    }
  }

  test("batched PQ probe equals the per-query PQ probe") {
    val rng = new scala.util.Random(53)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    for (t <- Seq("ivf_pqb", "ivf_pqb_raw", "ivf_pqb_centroids", "ivf_pqb_pq"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndexPq(emb, "vec_id", "embedding", "ivf_pqb",
      nCentroids = 8, lloydIters = 1, buckets = 4, m = 8, trainRows = 500)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("qvec"))
    val batched = Similarity.ivfProbePqBatch(spark, "ivf_pqb", queries,
      "vec_id", "embedding", "probe_id", k = 10, probes = 4, shortlist = 100)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, -r._3, r._2)).toSeq
    val single = (0L until 3L).flatMap { pid =>
      val qv = emb.filter($"vec_id" === pid).select($"embedding".as("qvec"))
      Similarity.ivfProbePq(spark, "ivf_pqb", qv, "vec_id", "embedding",
        k = 10, probes = 4, shortlist = 100)
        .as[(Long, Double)].collect().map(r => (pid, r._1, r._2))
    }.sortBy(r => (r._1, -r._3, r._2))
    assert(batched == single, s"batched\n$batched\nvs single\n$single")
  }

  test("appendToIvfIndexPq serves both generations with persisted codebooks") {
    val rng = new scala.util.Random(47)
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val gen0 = vecs(0 until 400).toDF("vec_id", "embedding").cache()
    val gen1 = vecs(400 until 500).toDF("vec_id", "embedding").cache()
    for (t <- Seq("ivf_pqa", "ivf_pqa_raw", "ivf_pqa_centroids", "ivf_pqa_pq"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndexPq(gen0, "vec_id", "embedding", "ivf_pqa",
      nCentroids = 8, lloydIters = 1, buckets = 4, m = 8, trainRows = 400)
    Similarity.appendToIvfIndexPq(gen1, "vec_id", "embedding", "ivf_pqa")
    assert(spark.table("ivf_pqa").count() == 500)
    assert(spark.table("ivf_pqa_raw").count() == 500)
    // a probe of an appended vector is served exactly: rerank reads raw
    // floats, so the appended row tops its own query at sim 1.0 and
    // pre-append neighbors still appear
    val q = gen1.filter($"vec_id" === 450).select($"embedding".as("qvec"))
    val rows = Similarity.ivfProbePq(spark, "ivf_pqa", q,
      "vec_id", "embedding", k = 10, probes = 4, shortlist = 100)
      .as[(Long, Double)].collect().toSeq
    assert(rows.head == ((450L, 1.0)), s"appended self not top-1: ${rows.head}")
    assert(rows.exists(_._1 < 400L), s"no pre-append generation rows: $rows")
  }

  test("appendToIvfIndexQuantized serves both generations without retraining") {
    val rng = new scala.util.Random(59)
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val gen0 = vecs(0 until 400).toDF("vec_id", "embedding").cache()
    val gen1 = vecs(400 until 500).toDF("vec_id", "embedding").cache()
    for (t <- Seq("ivf_qa", "ivf_qa_raw", "ivf_qa_centroids"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndexQuantized(gen0, "vec_id", "embedding", "ivf_qa",
      nCentroids = 8, lloydIters = 1, buckets = 4)
    Similarity.appendToIvfIndexQuantized(gen1, "vec_id", "embedding", "ivf_qa")
    assert(spark.table("ivf_qa").count() == 500)
    assert(spark.table("ivf_qa_raw").count() == 500)
    // appended rows carry the same layout (1 byte/dim code + scalars)
    val row = spark.table("ivf_qa").filter($"vec_id" === 450).head()
    assert(row.getAs[Array[Byte]]("code").length == 16)
    // a probe of an appended vector is served exactly: rerank reads raw
    // floats, so the appended row tops its own query at sim 1.0 and
    // pre-append neighbors still appear
    val q = gen1.filter($"vec_id" === 450).select($"embedding".as("qvec"))
    val rows = Similarity.ivfProbeQuantized(spark, "ivf_qa", q,
      "vec_id", "embedding", k = 10, probes = 4, shortlist = 100)
      .as[(Long, Double)].collect().toSeq
    assert(rows.head == ((450L, 1.0)), s"appended self not top-1: ${rows.head}")
    assert(rows.exists(_._1 < 400L), s"no pre-append generation rows: $rows")
  }

  test("batched quantized probe equals the per-query probe, chunked and not") {
    val rng = new scala.util.Random(61)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    for (t <- Seq("ivf_qb", "ivf_qb_raw", "ivf_qb_centroids"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndexQuantized(emb, "vec_id", "embedding", "ivf_qb",
      nCentroids = 8, lloydIters = 1, buckets = 4)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("qvec"))
    val batched = Similarity.ivfProbeQuantizedBatch(spark, "ivf_qb", queries,
      "vec_id", "embedding", "probe_id", k = 10, probes = 4, shortlist = 100)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, -r._3, r._2)).toSeq
    val single = (0L until 3L).flatMap { pid =>
      val qv = emb.filter($"vec_id" === pid).select($"embedding".as("qvec"))
      Similarity.ivfProbeQuantized(spark, "ivf_qb", qv, "vec_id", "embedding",
        k = 10, probes = 4, shortlist = 100)
        .as[(Long, Double)].collect().map(r => (pid, r._1, r._2))
    }.sortBy(r => (r._1, -r._3, r._2))
    assert(batched == single, s"batched\n$batched\nvs single\n$single")
    // maxPairs below one query's shortlist forces one-query chunks: the
    // driver-bound contract must change NOTHING about the returned rows
    val chunked = Similarity.ivfProbeQuantizedBatch(spark, "ivf_qb", queries,
      "vec_id", "embedding", "probe_id", k = 10, probes = 4, shortlist = 100,
      maxPairs = 1)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, -r._3, r._2)).toSeq
    assert(chunked == batched, s"chunked\n$chunked\nvs unchunked\n$batched")
  }

  test("forced-chunk batched PQ probe returns the unchunked rows") {
    // reuses the ivf_pqb index built by the batched-PQ spec if present,
    // else builds it — spec order must not matter
    val rng = new scala.util.Random(53)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    if (!spark.catalog.tableExists("ivf_pqc")) {
      for (t <- Seq("ivf_pqc", "ivf_pqc_raw", "ivf_pqc_centroids", "ivf_pqc_pq"))
        graft.sources.Warehouse.dropTableAndLocation(spark, t)
      Similarity.writeIvfIndexPq(emb, "vec_id", "embedding", "ivf_pqc",
        nCentroids = 8, lloydIters = 1, buckets = 4, m = 8, trainRows = 500)
    }
    val queries = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("probe_id"), $"embedding".as("qvec"))
    val whole = Similarity.ivfProbePqBatch(spark, "ivf_pqc", queries,
      "vec_id", "embedding", "probe_id", k = 10, probes = 4, shortlist = 100)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, -r._3, r._2)).toSeq
    val chunked = Similarity.ivfProbePqBatch(spark, "ivf_pqc", queries,
      "vec_id", "embedding", "probe_id", k = 10, probes = 4, shortlist = 100,
      maxPairs = 150) // 150/100 → 1 query per chunk → 4 chunks
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, -r._3, r._2)).toSeq
    assert(chunked == whole, s"chunked\n$chunked\nvs whole\n$whole")
  }

  test("Int8Dot fails loudly on a code/query dimension mismatch") {
    // a wrong-embedding-model query must not silently score a truncated
    // prefix (the probe adds offset*sum over the FULL query)
    val df = Seq((Array[Byte](1, 2, 3, 4), Seq(1f, 2f, 3f)))
      .toDF("code", "q")
    val ex = intercept[Exception] {
      df.select(graft.functions.Int8Dot($"code", $"q")).collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    assert(rootMessages(ex).exists(_.contains("int8_dot")),
      s"expected the int8_dot dim guard, got: $ex")
    // matched dims still score: 1*1 + 2*2 + 3*3 + 4*4 = 30
    val ok = Seq((Array[Byte](1, 2, 3, 4), Seq(1f, 2f, 3f, 4f))).toDF("code", "q")
      .select(graft.functions.Int8Dot($"code", $"q")).as[Double].head()
    assert(ok == 30.0)
  }

  test("ivfProbeQuantized rejects a multi-row query batch like ivfProbePq") {
    val rng = new scala.util.Random(67)
    val emb = (0L until 50L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    for (t <- Seq("ivf_qg", "ivf_qg_raw", "ivf_qg_centroids"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Similarity.writeIvfIndexQuantized(emb, "vec_id", "embedding", "ivf_qg",
      nCentroids = 4, lloydIters = 1, buckets = 2)
    val multi = emb.filter($"vec_id" < 2).select($"embedding".as("qvec"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfProbeQuantized(spark, "ivf_qg", multi,
        "vec_id", "embedding", k = 5)
    }
    assert(ex.getMessage.contains("ivfProbeQuantizedBatch"))
  }

  test("batched probe of the persisted ivf index equals the per-call batch path") {
    val rng = new scala.util.Random(3)
    val emb = (0L until 500L).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding".as("qvec"))
    for (t <- Seq("ivf_bidx_centroids", "ivf_bidx")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", "ivf_bidx",
      nCentroids = 8, lloydIters = 1, buckets = 4)
    val direct = Similarity.ivfKnnBatch(emb, queries, "vec_id", "embedding",
      "probe_id", k = 10, nCentroids = 8, probes = 4)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, -r._3, r._2)).toSeq
    val indexed = Similarity.ivfProbePartitionedBatch(spark, "ivf_bidx", queries,
      "vec_id", "embedding", "probe_id", k = 10, probes = 4)
    assert(indexed.as[(Long, Long, Double)].collect()
      .sortBy(r => (r._1, -r._3, r._2)).toSeq == direct)
    // the union-of-probe-cells IN-list must prune partitions at the scan
    val plan = indexed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*IN".r.findFirstIn(plan).isDefined,
      s"no cell partition pruning in batched probe plan:\n$plan")
  }

  test("ivf assigns every vector to a cell and cells partition the data") {
    val rng = new scala.util.Random(2)
    val emb = (0L until 200L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val (assigned, centroids) = Similarity.ivfAssign(emb, "vec_id", "embedding", nCentroids = 8)
    assert(centroids.length == 8)
    assert(assigned.filter($"cell" < 0).count() == 0)
    assert(assigned.count() == 200)
    assert(assigned.select("cell").distinct().count() > 1)
  }

  test("approx_count_distinct stays within 5% of exact on 100k keys") {
    val df = spark.range(100000).selectExpr("CAST(id % 37777 AS STRING) AS k")
    val exact = df.select(countDistinct(col("k"))).head().getLong(0)
    val approx = df.select(approx_count_distinct(col("k"), 0.01)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("splitAssign is deterministic and near the requested fractions") {
    val docs = spark.range(20000).selectExpr("CAST(id AS STRING) AS text")
    val counts = docs.select(TextOps.splitAssign(col("text")).as("split"))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(math.abs(counts("train") - 18000.0) / 18000.0 < 0.05, s"train off: $counts")
    assert(math.abs(counts("val") - 1000.0) / 1000.0 < 0.25, s"val off: $counts")
    assert(math.abs(counts("test") - 1000.0) / 1000.0 < 0.25, s"test off: $counts")
    // same content → same split, every time (re-run and compare)
    val a = docs.select(col("text"), TextOps.splitAssign(col("text")).as("s"))
      .as[(String, String)].collect().toMap
    val b = docs.select(col("text"), TextOps.splitAssign(col("text")).as("s"))
      .as[(String, String)].collect().toMap
    assert(a == b)
  }

  test("mixCorpus up/downsamples deterministically near the target weights") {
    val docs = spark.range(10000).selectExpr(
      "id AS doc_id", "CAST(id AS STRING) AS text",
      "CASE WHEN id % 2 = 0 THEN 'web' ELSE 'wiki' END AS source")
    val weight = when(col("source") === "web", lit(0.5)).otherwise(lit(2.25))
    val out = TextOps.mixCorpus(docs, weight, "text").cache()
    val bySource = out.groupBy("source").count().as[(String, Long)].collect().toMap
    // web: 5000 × 0.5 ≈ 2500; wiki: 5000 × 2.25 ≈ 11250 (2 copies + 25%)
    assert(math.abs(bySource("web") - 2500.0) / 2500.0 < 0.05, s"got $bySource")
    assert(math.abs(bySource("wiki") - 11250.0) / 11250.0 < 0.05, s"got $bySource")
    // every kept wiki doc has copies 1..n with n ∈ {2, 3}
    val copies = out.filter($"source" === "wiki").groupBy("doc_id")
      .agg(max("copy").as("n"), count(lit(1)).as("c"))
    assert(copies.filter($"n" =!= $"c").count() == 0)
    assert(copies.filter($"n" < 2 || $"n" > 3).count() == 0)
    // deterministic: identical output on a second evaluation
    val again = TextOps.mixCorpus(docs, weight, "text")
      .select("doc_id", "copy").as[(Long, Int)].collect().sorted.toSeq
    assert(again == out.select("doc_id", "copy").as[(Long, Int)].collect().sorted.toSeq)
  }

  test("packBins cuts each group's token stream into sequential windows") {
    val df = Seq(
      ("s1", 1L, "a " * 99 + "a"),   // 100 tokens → starts at 0   → bin 0
      ("s1", 2L, "b " * 49 + "b"),   //  50 tokens → starts at 100 → bin 0
      ("s1", 3L, "c " * 79 + "c"),   //  80 tokens → starts at 150 → bin 1
      ("s2", 4L, "d " * 9 + "d")     //  10 tokens → starts at 0   → bin 0
    ).toDF("source", "doc_id", "text")
    val out = TextOps.packBins(df, "source", "doc_id", "text", binTokens = 128)
      .select($"doc_id", $"bin").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("contamination counts shared distinct n-grams against a benchmark") {
    val benchmark = Seq((100L, "the secret benchmark question about turtles and rivers"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words then the secret benchmark question about turtles and rivers copied"),
      (2L, "entirely unrelated content with no overlap at all whatsoever here"),
      (3L, "the secret benchmark question about some other topic entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(corpus, benchmark, "text", "doc_id", n = 5)
      .as[(Long, Long)].collect().toMap
    // doc 1 contains the full 8-token benchmark run → 4 distinct shared 5-grams;
    // doc 3 shares exactly one 5-token run; doc 2 is absent (clean)
    assert(got == Map(1L -> 4L, 3L -> 1L), s"got $got")
  }

  test("langId detects stopword-heavy languages and CJK") {
    val samples = Seq(
      ("the cat sat on the mat and it was happy", "en"),
      ("le chat est dans la maison et il est content", "fr"),
      ("el gato es un animal y la casa es grande", "es"),
      ("der hund ist in den haus und das ist gut", "de"),
      ("il gatto non è del tutto contento anche come gli altri della casa", "it"),
      ("o gato não está em casa para que os outros vejam mais um", "pt"),
      ("de kat is niet in het huis en dat is een probleem voor ons", "nl"),
      ("katten är inte i huset och det är ett problem för oss med den", "sv"),
      ("katten er ikke i huset og det er et problem som vi har til den", "da"),
      ("kissa ei ole talossa ja se on ongelma mutta niin on myös muu", "fi"),
      ("kot nie jest w domu i to jest problem jak się okazuje po tak", "pl"),
      ("кот не в доме и это как проблема но он по себе из дома", "ru"),
      ("kedi evde değil ve bu bir sorun ama daha çok var gibi ki ben", "tr"),
      ("pisica nu este în casă și de la un timp este pe care mai din", "ro"),
      ("kočka není doma a to je problém ale se to na pro nás jako z", "cs"),
      ("kucing itu tidak ada di dalam rumah dan ini akan jadi masalah untuk saya", "id"),
      ("这是一个中文句子没有空格", "zh"),
      ("これは日本語の文です、猫が好きです", "ja"), // kana separates ja from zh
      ("이것은 한국어 문장입니다 고양이가 좋아요", "ko")
    ).toDF("text", "expected")
    val got = samples.select(TextOps.langId(col("text")).as("got"), col("expected"))
      .as[(String, String)].collect()
    got.foreach { case (g, e) => assert(g == e, s"expected $e got $g") }
  }

  test("quality score rewards long natural text, penalizes fragments") {
    val df = Seq(
      "word " * 100 + "end",
      "x"
    ).toDF("text")
    val scores = df.select(TextOps.qualityScore(col("text"))).as[Double].collect()
    assert(scores(0) == 1.0)
    assert(scores(1) < 0.1)
  }

  test("fingerprint is deterministic and shift-stable for shared windows") {
    val df = Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz0123456789"),
      (2L, "abcdefghijklmnopqrstuvwxyz0123456789"),
      (3L, "PREFIX abcdefghijklmnopqrstuvwxyz0123456789")
    ).toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), TextOps.fingerprint(col("text"), k = 16).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    // min rolling hash over shared 16-gram windows often coincides; at
    // minimum it is deterministic and non-zero here
    assert(fp(3L) != 0L)
  }

  test("dropRepeatedLines keeps first occurrences and blank structure") {
    val out = Seq(
      (1L, "nav menu\nreal content one\n\nreal content two\nnav menu\nfooter\nfooter"),
      (2L, "a\n\n\na\nb"),
      (3L, "single line"),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"), TextOps.dropRepeatedLines(col("text")).as("t"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(out(1L) == "nav menu\nreal content one\n\nreal content two\nfooter")
    assert(out(2L) == "a\n\n\nb") // blanks all survive; repeated 'a' drops
    assert(out(3L) == "single line")
    assert(out(4L) == null)
  }

  test("dedupSubstrings removes shifted repeats the span grid misses") {
    import graft.dedup.Dedup
    val out = Dedup.dedupSubstrings(Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d e f z"), // same 6 tokens at offset 2 — misaligned
      (3L, "a b c d"), // pure replay of doc 1's first window → disappears
      (4L, "q r s t q r s t"), // within-doc repeat collapses
      (5L, "short"), // sub-L doc passes through whole
      (6L, null.asInstanceOf[String]))
      .toDF("id", "text"), "text", "id", windowTokens = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((6L, 6L, "a b c d e f")))
    // doc 2's windows at 2,3,4 are doc 1's → tokens 2..7 removed
    assert(out(2L) == ((9L, 3L, "x y z")))
    assert(out(4L) == ((8L, 4L, "q r s t")))
    assert(out(5L) == ((1L, 1L, "short")))
    assert(out.keySet == Set(1L, 2L, 4L, 5L))
  }

  test("dedupSubstrings removes exactly the maximal repeat — the suffix-array equivalence") {
    import graft.dedup.Dedup
    // The analytic bridge to Lee et al.'s suffix-array method: two
    // positions share an L-token sliding window iff their suffixes share
    // an L-prefix (the very predicate a suffix array's LCP answers), and
    // inside a maximal repeat of m >= L tokens every one of the m-L+1
    // windows matches cross-occurrence, so the covered union is EXACTLY
    // the m repeat tokens — at any alignment, for any m (multiple of
    // nothing). Pin it: a 13-token repeat (L=8, 13 not a multiple of
    // anything relevant) at different offsets in three docs loses
    // exactly its 13 tokens from the non-first occurrences, no more.
    val repeat = (1 to 13).map(i => s"R$i").mkString(" ")
    val out = Dedup.dedupSubstrings(Seq(
      (1L, s"$repeat tail1 tail2"),
      (2L, s"pre2a $repeat post2"),   // offset 1
      (3L, s"p3a p3b p3c $repeat"))   // offset 3
      .toDF("id", "text"), "text", "id", windowTokens = 8)
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((15L, s"$repeat tail1 tail2")))
    assert(out(2L) == ((2L, "pre2a post2")), out(2L).toString)
    assert(out(3L) == ((3L, "p3a p3b p3c")), out(3L).toString)
  }

  test("dedupSubstrings is partitioning-invariant with a corpus-hot window") {
    import graft.dedup.Dedup
    val boiler = "terms of service apply to all visitors here"
    // body tokens carry the id, so no window crossing the boundary is
    // shared — exactly the 8 boilerplate tokens are the repeat
    val docs = (1L to 400L).map(i => (i, s"$boiler u$i v$i w$i"))
      .toDF("id", "text")
    val out = Dedup.dedupSubstrings(docs.repartition(11), "text", "id")
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(out.size == 400)
    assert(out(1L) == s"$boiler u1 v1 w1")
    assert(out(2L) == "u2 v2 w2")
    assert(out(400L) == "u400 v400 w400")
    // the hashed-exchange escape hatch produces identical results
    val hashed = Dedup.dedupSubstrings(docs, "text", "id", hashWindows = true)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(hashed == out)
  }

  test("dedupSubstrings rank engine equals the string engine; auto switches") {
    import graft.dedup.Dedup
    val p = "a1 a2 a3 a4 a5 a6 a7 a8" // exactly the d19 default window
    val docs = Seq(
      (1L, s"$p tail1 tail2"), // corpus-first, kept whole
      (2L, s"pre1 $p post1"), // the repeat at offset 1
      (3L, p), // pure replay → disappears
      (4L, "w1 w2 w3 w4 w5 w6 w7"), // sub-window doc passes through
      (5L, null.asInstanceOf[String])
    ).toDF("id", "text")
    def run(engine: String) =
      Dedup.dedupSubstrings(docs, "text", "id", windowTokens = 8,
          engine = engine)
        .orderBy("id").as[(Long, Long, Long, String)].collect().toSeq
    val s = run("strings")
    assert(run("ranks") == s)
    // auto resolves by the estimated-input-bytes threshold: a 1-byte
    // threshold forces the rank path, the default (64 GiB) keeps strings
    // — results identical either way (the engine contract)
    spark.conf.set("spark.graft.dedup.rankEngineMinBytes", "1")
    try assert(run("auto") == s)
    finally spark.conf.unset("spark.graft.dedup.rankEngineMinBytes")
    assert(run("auto") == s)
  }

  test("dedupRepeats removes sub-L repeats at exact boundaries that dedupSubstrings misses") {
    import graft.dedup.Dedup
    val p = "the quick brown fox jumps" // 5 tokens — below d19's L = 8
    val docs = Seq(
      (1L, s"$p tail1a tail1b"), // corpus-first occurrence, kept whole
      (2L, s"x1 x2 $p y1 y2"), // the repeat at offset 2
      (3L, p), // pure replay → disappears
      (4L, "a b c d Z a b c d"), // within-doc 4-token repeat
      (5L, "too short"), // sub-threshold, untouched
      (6L, s"m1 $p m2 $p m3") // two extents in one doc
    ).toDF("id", "text")
    val out = Dedup.dedupRepeats(docs, "text", "id", minTokens = 4)
      .orderBy("id").as[(Long, Long, Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 7L, 7L, 0L, 0L, s"$p tail1a tail1b"),
      (2L, 9L, 4L, 1L, 5L, "x1 x2 y1 y2"), // extent is EXACTLY the 5 tokens
      (4L, 9L, 5L, 1L, 4L, "a b c d Z"),
      (5L, 2L, 2L, 0L, 0L, "too short"),
      (6L, 13L, 3L, 2L, 5L, "m1 m2 m3")), s"got $out")
    // d19 at its default window (8) provably misses all of it: no 8-token
    // window repeats, and doc 3 (5 tokens) has no windows at all — every
    // document passes through unchanged
    val d19 = Dedup.dedupSubstrings(docs, "text", "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    val orig = docs.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(d19 == orig, "expected d19@8 to leave the sub-8 repeats untouched")
    // a higher threshold hides shorter repeats: at minTokens = 5 the
    // 4-token within-doc repeat in doc 4 becomes invisible
    val l5 = Dedup.dedupRepeats(docs, "text", "id", minTokens = 5)
      .orderBy("id").as[(Long, Long, Long, Long, Long, String)].collect().toSeq
    assert(l5.find(_._1 == 4L).get == ((4L, 9L, 9L, 0L, 0L, "a b c d Z a b c d")))
    assert(l5.find(_._1 == 2L).get == ((2L, 9L, 4L, 1L, 5L, "x1 x2 y1 y2")))
  }

  test("dedupRepeats prefix-doubling rank engine equals the string engine") {
    import graft.dedup.Dedup
    val p = "the quick brown fox jumps"
    val docs = Seq(
      (1L, s"$p tail1a tail1b"), (2L, s"x1 x2 $p y1 y2"), (3L, p),
      (4L, "a b c d Z a b c d"), (5L, "too short"),
      (6L, s"m1 $p m2 $p m3"), (7L, null.asInstanceOf[String])
    ).toDF("id", "text")
    // L = 4 (power of two: degenerate second half), 5 (off-by-one
    // overlap), 3 (single doubling round + overlap), 2 (one round)
    for (l <- Seq(4, 5, 3, 2)) {
      val s = Dedup.dedupRepeats(docs, "text", "id", minTokens = l)
        .orderBy("id").as[(Long, Long, Long, Long, Long, String)].collect().toSeq
      val r = Dedup.dedupRepeats(docs, "text", "id", minTokens = l,
          engine = "ranks")
        .orderBy("id").as[(Long, Long, Long, Long, Long, String)].collect().toSeq
      assert(r == s, s"engines diverge at minTokens=$l:\n$r\nvs\n$s")
    }
  }

  test("dedupRepeats is partitioning-invariant with a corpus-hot repeat") {
    import graft.dedup.Dedup
    val boiler = "terms of service apply here" // 5 tokens, in EVERY doc
    val docs = (1L to 400L).map(i => (i, s"$boiler u$i v$i w$i"))
      .toDF("id", "text")
    val out = Dedup.dedupRepeats(docs.repartition(11), "text", "id",
        minTokens = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getString(5)))).toMap
    assert(out.size == 400)
    assert(out(1L) == ((0L, s"$boiler u1 v1 w1")))
    assert(out(2L) == ((5L, "u2 v2 w2"))) // exact 5-token extent reported
    assert(out(400L) == ((5L, "u400 v400 w400")))
    // the rank engine agrees under the same hot key
    val ranks = Dedup.dedupRepeats(docs.repartition(7), "text", "id",
        minTokens = 4, engine = "ranks")
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getString(5)))).toMap
    assert(ranks == out)
  }

  test("repeatProfile mines maximal duplicated extents with reach and counts") {
    import graft.dedup.Dedup
    val p = "lorem ipsum dolor sit"
    val docs = Seq(
      (1L, s"$p a1 a2"), // corpus-first occurrence COUNTS in the profile
      (2L, s"b1 $p b2"),
      (3L, s"c1 c2 $p"),
      (4L, s"q1 $p q2 $p q3"), // two extents in one doc
      (5L, "r1 r2 r3 r4 X r1 r2 r3 r4"), // within-doc-only repeat
      (6L, "a a a a a"), // overlapping same-window occurrences MERGE
      (7L, "nothing shared at all here")
    ).toDF("id", "text")
    val prof = Dedup.repeatProfile(docs, "text", "id", minTokens = 4)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(prof == Seq(
      (p, 4L, 4L, 5L), // 4 docs, 5 maximal extents
      (s"r1 r2 r3 r4", 4L, 1L, 2L),
      ("a a a a a", 5L, 1L, 1L)), s"got $prof")
  }

  test("bm25: hand-computed scores, OOV terms score 0, null text excluded") {
    import graft.text.Search
    val docs = Seq(
      (1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "durian"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Search.bm25(docs, "text", "doc_id", "apple cherry nosuchterm")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // N = 4 (null-text rows count in N), avgdl = (3+2+1)/3 = 2.0,
    // df_apple = df_cherry = 1 → idf = ln(1 + 3.5/1.5) = ln(10/3)
    val idf = math.log(10.0 / 3.0)
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r4(d: Double) = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: tf_apple=2, dl=3 → idf·2·2.2/(2 + 1.2·(0.25 + 0.75·3/2))
    val s1 = r4(r6(idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.0))))
    // doc 2: tf_cherry=1, dl=2 → idf·2.2/(1 + 1.2·(0.25+0.75)) = idf
    val s2 = r4(r6(idf))
    assert(out.toSeq == Seq((1L, s1), (2L, s2)), s"got ${out.toSeq}")
    assert(s1 > s2) // higher tf on a shorter-normalized doc outranks
    // topK truncates deterministically
    val top1 = Search.bm25(docs, "text", "doc_id", "apple cherry", topK = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top1 == Seq(1L))
    intercept[IllegalArgumentException] {
      Search.bm25(docs, "text", "doc_id", "   ")
    }
  }

  test("phraseSearch: adjacency and order are strict; repeated terms, " +
    "multi-occurrence counts, missing terms") {
    import graft.text.Search
    val docs = Seq(
      (1L, "big table hash join on the table hash path"), // 2 matches
      (2L, "hash table is the reverse order"),            // order matters
      (3L, "table of hash"),                              // not adjacent
      (4L, "TABLE HASH uppercase"),                       // lowercased: match
      (5L, "hash hash hash")                              // repeated-term probe
    ).toDF("doc_id", "text")
    val got = Search.phraseSearch(docs, "text", "doc_id", "table hash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 2L, 4L -> 1L), s"$got")
    // repeated phrase terms: "hash hash" matches overlapping starts
    val rep = Search.phraseSearch(docs, "text", "doc_id", "hash hash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rep == Map(5L -> 2L), s"$rep")
    // a term absent from the corpus → empty, not an error
    assert(Search.phraseSearch(docs, "text", "doc_id",
      "table nosuchterm").count() == 0)
    intercept[IllegalArgumentException] {
      Search.phraseSearch(docs, "text", "doc_id", "single")
    }
  }

  test("bm25 index probe row-equals the direct scan, bucket-pruned") {
    import graft.text.Search
    val docs = (1L to 60L).map(i => (i,
      if (i % 13 == 0) null.asInstanceOf[String]
      else s"word$i common " + ("window " * (i % 4).toInt) +
        (if (i % 3 == 0) "merge scan " else "filler text ") + s"tail${i % 7}"))
      .toDF("doc_id", "text")
    for (t <- Seq("bm25_idx", "bm25_idx_stats"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Search.writeBm25Index(docs, "text", "doc_id", "bm25_idx", buckets = 16)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      // multi-term, single hot term, partially-OOV, fully-OOV
      for (q <- Seq("window merge scan", "common", "window nosuchterm",
          "nosuchterm onlymissing")) {
        val direct = Search.bm25(docs, "text", "doc_id", q, topK = 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val probe = Search.bm25Probe(spark, "bm25_idx", "doc_id", q, topK = 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(probe == direct, s"query '$q': $probe vs $direct")
      }
      // the serving claim: the read is the query's term buckets only
      val plan = Search.bm25Probe(spark, "bm25_idx", "doc_id", "window merge")
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined, s"no bucket pruning in probe plan:\n$plan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        "probe read every bucket")
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("phrase index probe row-equals the direct scan (single and batch), " +
    "bucket-pruned") {
    import graft.text.Search
    val docs = Seq(
      (1L, "the table hash join uses a table hash"),
      (2L, "hash table inverted order"),
      (3L, "a table hash here too"),
      (4L, "sort merge join"),
      (5L, "hash hash hash overlapping"),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    graft.sources.Warehouse.dropTableAndLocation(spark, "phrase_idx")
    Search.writePhraseIndex(docs, "text", "doc_id", "phrase_idx",
      buckets = 16)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      for (p <- Seq("table hash", "hash hash", "sort merge join",
          "table nosuchterm")) {
        val direct = Search.phraseSearch(docs, "text", "doc_id", p)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val probe = Search.phraseProbe(spark, "phrase_idx", "doc_id", p)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(probe == direct, s"phrase '$p': $probe vs $direct")
      }
      val phrases = Seq(("a", "table hash"), ("b", "hash hash"),
        ("c", "zz unseen")).toDF("qid", "phrase")
      val directB = Search.phraseSearchBatch(docs, "text", "doc_id",
          phrases, "qid", "phrase")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val probeB = Search.phraseProbeBatch(spark, "phrase_idx", "doc_id",
          phrases, "qid", "phrase")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(probeB == directB, s"batch: $probeB vs $directB")
      assert(directB.nonEmpty)
      // the serving claim: the read is the phrase's term buckets only
      val plan = Search.phraseProbe(spark, "phrase_idx", "doc_id", "table hash")
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined, s"no bucket pruning in probe plan:\n$plan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        "probe read every bucket")
      intercept[IllegalArgumentException] {
        Search.phraseProbe(spark, "phrase_idx", "doc_id", "single")
      }
      // append: grown index probes row-equal a full rebuild (position
      // lists are per-document — appended rows never interact)
      graft.sources.Warehouse.dropTableAndLocation(spark, "phrase_app")
      Search.writePhraseIndex(docs.filter($"doc_id" <= 3), "text", "doc_id",
        "phrase_app", buckets = 16)
      val delta = Search.appendToPhraseIndex(docs.filter($"doc_id" > 3),
        "text", "doc_id", "phrase_app")
      assert(delta.nonEmpty, "append produced no postings delta")
      for (p <- Seq("table hash", "hash hash", "sort merge join")) {
        val full = Search.phraseProbe(spark, "phrase_idx", "doc_id", p)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val grown = Search.phraseProbe(spark, "phrase_app", "doc_id", p)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(grown == full, s"phrase '$p': $grown vs $full")
      }
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("bm25 index append serves probes row-equal to a fresh full build") {
    import graft.text.Search
    def corpus(ids: Range) = ids.map(i => (i.toLong,
      if (i % 13 == 0) null.asInstanceOf[String]
      else s"word$i common " + ("window " * (i % 4).toInt) +
        (if (i % 3 == 0) "merge scan " else "filler text ") + s"tail${i % 7}"))
      .toDF("doc_id", "text")
    val gen0 = corpus(1 to 40)
    val gen1 = corpus(41 to 60) // null-text docs in BOTH generations:
    // N counts them, avgdl must not — the merged stats carry both counts
    for (t <- Seq("bm25_app", "bm25_app_stats", "bm25_full", "bm25_full_stats"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Search.writeBm25Index(gen0, "text", "doc_id", "bm25_app", buckets = 16)
    val delta = Search.appendToBm25Index(gen1, "text", "doc_id", "bm25_app")
    assert(delta.nonEmpty, "append produced no postings delta")
    Search.writeBm25Index(corpus(1 to 60), "text", "doc_id", "bm25_full",
      buckets = 16)
    // merged stats are bit-identical to the full build's
    assert(spark.table("bm25_app_stats").head() ==
      spark.table("bm25_full_stats").head())
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      for (q <- Seq("window merge scan", "common", "word55 filler",
          "nosuchterm onlymissing")) {
        val grown = Search.bm25Probe(spark, "bm25_app", "doc_id", q, topK = 15)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val full = Search.bm25Probe(spark, "bm25_full", "doc_id", q, topK = 15)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(grown == full, s"query '$q': $grown vs $full")
        // and both equal the direct two-scan bm25 over the union corpus
        val direct = Search.bm25(corpus(1 to 60), "text", "doc_id", q, topK = 15)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(grown == direct, s"query '$q': grown $grown vs direct $direct")
      }
      // pruning still reaches the grown table's scan
      val plan = Search.bm25Probe(spark, "bm25_app", "doc_id", "window merge")
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"append broke bucket pruning:\n$plan")
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("bm25ProbeBatch matches per-query single probes from one pruned read") {
    import graft.text.Search
    val docs = (1L to 60L).map(i => (i,
      if (i % 13 == 0) null.asInstanceOf[String]
      else s"word$i common " + ("window " * (i % 4).toInt) +
        (if (i % 3 == 0) "merge scan " else "filler text ") + s"tail${i % 7}"))
      .toDF("doc_id", "text")
    for (t <- Seq("bm25_batch", "bm25_batch_stats"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Search.writeBm25Index(docs, "text", "doc_id", "bm25_batch", buckets = 16)
    val qtexts = Seq("window merge scan", "common", "window nosuchterm",
      "nosuchterm onlymissing")
    val qs = qtexts.zipWithIndex.map { case (t, i) => (s"q$i", t) }
      .toDF("query_id", "qtext")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val batchDf = Search.bm25ProbeBatch(spark, "bm25_batch", "doc_id", qs,
        "query_id", "qtext", topK = 10)
      val batch = batchDf.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (k, v) =>
          k -> v.sortBy(x => (-x._3, x._2)).map(x => (x._2, x._3)).toSeq }
      for ((t, i) <- qtexts.zipWithIndex) {
        val single = Search.bm25Probe(spark, "bm25_batch", "doc_id", t,
          topK = 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val got = batch.getOrElse(s"q$i", Seq.empty)
        // same docs in the same rank order; scores agree to the documented
        // sub-1e-6 long-scaling residue (usually exactly)
        assert(got.map(_._1) == single.map(_._1),
          s"query '$t': ${got.map(_._1)} vs ${single.map(_._1)}")
        got.zip(single).foreach { case ((_, a), (_, b)) =>
          assert(math.abs(a - b) <= 1e-4, s"query '$t': score $a vs $b") }
      }
      // one serving read for the whole batch: the postings scan is pruned
      // to the union of every query's term buckets
      val plan = Search.bm25ProbeBatch(spark, "bm25_batch", "doc_id", qs,
        "query_id", "qtext", topK = 10)
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined, s"no bucket pruning in batch probe plan:\n$plan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        "batch probe read every bucket")
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("filterBlockedDomains: subdomains match, variants normalize, null keeps") {
    val rows = Seq(
      (1L, "https://example.com/a"), // blocked exactly
      (2L, "http://ads.example.com/b"), // subdomain of blocked
      (3L, "https://WWW.EXAMPLE.COM:443/c"), // variants normalize → blocked
      (4L, "https://example.com.evil.org/d"), // NOT a subdomain of example.com
      (5L, "https://notexample.com/e"), // suffix of the STRING, not the domain
      (6L, "https://fine.org/f"),
      (7L, null.asInstanceOf[String]), // no evidence → keeps
      (8L, "not a url at all")).toDF("id", "url")
    val blocked = Seq("example.com", "tracker.net").toDF("domain")
    val kept = TextOps.filterBlockedDomains(rows, "url", "id", blocked)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(4L, 5L, 6L, 7L, 8L), kept.toString)
    // a blocklist entry never matches a bare TLD by accident
    val tld = TextOps.filterBlockedDomains(rows, "url", "id",
      Seq("com").toDF("domain")).count()
    assert(tld == rows.count())
  }

  test("compressionRatio separates junk, natural text, and noise") {
    val natural = "The committee reviewed the proposal on Tuesday and " +
      "decided to postpone the final vote until further evidence about " +
      "the projected maintenance costs could be gathered from the field."
    val junk = "click here click here click here " * 40
    val noise = (1 to 400).map(i =>
      (scala.util.hashing.MurmurHash3.stringHash(i.toString) & 0x7f).toChar)
      .mkString
    val r = Seq((1L, natural), (2L, junk), (3L, noise), (4L, ""),
      (5L, null.asInstanceOf[String])).toDF("id", "text")
      .select(col("id"), TextOps.compressionRatio(col("text")).as("cr"))
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    val (nat, jk, nz) = (r(1L).get, r(2L).get, r(3L).get)
    assert(jk < 0.1 && jk < nat, s"junk $jk vs natural $nat")
    assert(nat > 0.3 && nat < 1.0, s"natural $nat")
    assert(nz > nat, s"noise $nz vs natural $nat")
    assert(r(4L).isEmpty && r(5L).isEmpty)
    // deterministic across partitionings (fixed level, no dictionary)
    val again = Seq((1L, natural)).toDF("id", "text").repartition(3)
      .select(TextOps.compressionRatio(col("text"))).head().getDouble(0)
    assert(again == nat)
  }

  test("dupClusterProfile: histogram over components, both CC engines") {
    // chain 1-2-3 (size 3), pair 8-9, pair 20-21 → sizes {3:1, 2:2}
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L), (20L, 21L)).toDF("a", "b")
    val want = Set((3L, 1L, 3L), (2L, 2L, 4L))
    for (bound <- Seq(1L << 18, 0L)) { // driver union-find AND distributed
      val got = Dedup.dupClusterProfile(pairs, driverBound = bound)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"driverBound=$bound: $got")
    }
  }

  test("chunkDocs: exact windows, overlap stride, no pure-overlap tail") {
    def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, toks(10)), (2L, toks(4)), (3L, toks(5)),
      (4L, toks(1)), (5L, ""), (6L, null.asInstanceOf[String]),
      (7L, "  a   b  ")).toDF("doc_id", "text")
    val got = TextOps.chunkDocs(docs, "text", "doc_id", maxTokens = 4,
        overlap = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .toSet
    assert(got == Set(
      // stride 3: starts 1, 4, 7 (1-based); ceil(9/3) = 3 chunks
      (1L, 0, "t1 t2 t3 t4", 4), (1L, 1, "t4 t5 t6 t7", 4),
      (1L, 2, "t7 t8 t9 t10", 4),
      (2L, 0, "t1 t2 t3 t4", 4), // n == maxTokens: ONE chunk, no tail
      (3L, 0, "t1 t2 t3 t4", 4), (3L, 1, "t4 t5", 2),
      (4L, 0, "t1", 1),
      (7L, 0, "a b", 2)), got.toString) // empty/null docs vanish
    // overlap 0 partitions exactly: every token once, in order
    val flat = TextOps.chunkDocs(docs.filter(col("doc_id") === 1), "text",
        "doc_id", maxTokens = 3)
      .orderBy("chunk_id").collect().map(_.getString(2)).mkString(" ")
    assert(flat == toks(10))
    intercept[IllegalArgumentException] {
      TextOps.chunkDocs(docs, "text", "doc_id", maxTokens = 4, overlap = 4)
    }
  }

  test("sentenceChunks: boundaries snap to sentence ends; only an " +
    "oversized single sentence cuts mid-sentence; chunks tile exactly") {
    val docs = Seq(
      // two sentences of 3+4; budget 5 → the first chunk takes only the
      // first sentence (snaps BACK from the mid-sentence position 5)
      (1L, "a b c. d e f g."),
      // one 8-token sentence, budget 5 → mid-sentence cut at exactly 5,
      // remainder in chunk 1
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8."),
      // no terminal punctuation at all → doc end closes the sentence;
      // 7 tokens, budget 5 → 5 + 2 (the fallback path, then the tail)
      (3L, "x1 x2 x3 x4 x5 x6 x7"),
      // quote and ”-terminals count (the t26 rule); ! and ? too
      (4L, """he said "yes" now! b c? d e”"""),
      (5L, ""), (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextOps.sentenceChunks(docs, "text", "doc_id", maxTokens = 5)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .toSet
    assert(got == Set(
      (1L, 0, "a b c.", 3), (1L, 1, "d e f g.", 4),
      (2L, 0, "w1 w2 w3 w4 w5", 5), (2L, 1, "w6 w7 w8.", 3),
      (3L, 0, "x1 x2 x3 x4 x5", 5), (3L, 1, "x6 x7", 2),
      // ends after "yes" (3), now! (4), c? (6), e” (8): greedy from 0
      // takes 4 ("he said \"yes\" now!"), then 5..8 fits in one chunk
      (4L, 0, "he said \"yes\" now!", 4), (4L, 1, "b c? d e”", 4)),
      got.toString)
    // chunks tile the tokenized document exactly at any budget
    for (max <- Seq(1, 2, 3, 5, 8, 40)) {
      val flat = TextOps.sentenceChunks(docs.filter(col("doc_id") === 4),
          "text", "doc_id", max)
        .orderBy("chunk_id").collect().map(_.getString(2)).mkString(" ")
      assert(flat == "he said \"yes\" now! b c? d e”", s"max=$max")
    }
    intercept[IllegalArgumentException] {
      TextOps.sentenceChunks(docs, "text", "doc_id", maxTokens = 0)
    }
  }

  test("chunkDocs invariants over an (n, maxTokens, overlap) sweep") {
    for (n <- Seq(1, 2, 3, 7, 16, 33); max <- Seq(1, 3, 5, 8);
         ov <- Seq(0, 1, max - 1).distinct if ov >= 0 && ov < max) {
      val stride = max - ov
      val toks = (1 to n).map(i => s"w$i")
      val chunks = TextOps.chunkDocs(
          Seq((1L, toks.mkString(" "))).toDF("doc_id", "text"),
          "text", "doc_id", max, ov)
        .orderBy("chunk_id").collect()
        .map(r => (r.getInt(1), r.getString(2).split(" ").toSeq, r.getInt(3)))
      val label = s"n=$n max=$max ov=$ov"
      // ids are 0..k-1; every chunk ≤ max tokens and n_tokens is honest
      assert(chunks.map(_._1).toSeq == chunks.indices.toSeq, label)
      assert(chunks.forall(c => c._2.length <= max && c._2.length == c._3), label)
      // chunk i starts at i*stride and is the slice of the original
      chunks.foreach { case (i, ts, _) =>
        assert(ts == toks.slice(i * stride, i * stride + max), s"$label chunk $i")
      }
      // stitching chunks (skip the first ov tokens of each later chunk)
      // reproduces the document exactly — full coverage, no gap, no dup
      val stitched = chunks.head._2 ++
        chunks.tail.flatMap { case (_, ts, _) => ts.drop(ov) }
      assert(stitched == toks, label)
      // never a pure-overlap tail: every later chunk contributes new tokens
      assert(chunks.tail.forall(_._2.length > ov), label)
    }
  }

  test("keepTopFraction: histogram cut keeps an exact top set, no sort") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
    val kept = TextOps.keepTopFraction(df, "score", 0.25, bins = 1000)
      .collect().map(_.getLong(0)).toSet
    // fine bins: exactly the top quarter
    assert(kept == (76 to 100).map(_.toLong).toSet, kept.toString)
    // coarse bins may overshoot but never undershoot, and the kept set is
    // an up-set in score (everything kept beats everything dropped)
    val coarse = TextOps.keepTopFraction(df, "score", 0.25, bins = 3)
      .collect().map(_.getLong(0)).toSet
    assert(coarse.size >= 25 && coarse.min > (1 to 100).toSet.diff(coarse.map(_.toInt)).max)
    // partitioning-invariant
    val rep = TextOps.keepTopFraction(df.repartition(7), "score", 0.25,
      bins = 1000).collect().map(_.getLong(0)).toSet
    assert(rep == kept)
    // null scores never survive; constant scores keep everything
    val withNulls = df.withColumn("score",
      when(col("id") % 10 === 0, lit(null)).otherwise(col("score")))
    val kn = TextOps.keepTopFraction(withNulls, "score", 0.5, bins = 1000)
      .collect().map(_.getLong(0)).toSet
    assert(kn.forall(_ % 10 != 0) && kn.size >= 45)
    val const = TextOps.keepTopFraction(
      df.withColumn("score", lit(7.0)), "score", 0.1)
    assert(const.count() == 100)
  }

  test("keepTopFractionByGroup: per-group cuts, distributed, no collect") {
    // group A: 1..100; group B: 1000..1019; group C: constant; D: one row
    val df = ((1 to 100).map(i => ("A", i.toLong, i.toDouble)) ++
      (0 until 20).map(i => ("B", 200L + i, 1000.0 + i)) ++
      (1 to 5).map(i => ("C", 300L + i, 7.0)) ++
      Seq(("D", 400L, 1.0))).toDF("src", "id", "score")
    val kept = TextOps.keepTopFractionByGroup(df, "score", "src", 0.25,
        bins = 1000)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // A keeps its own top quarter (76..100) regardless of B's higher scores
    assert(kept.filter(_._1 == "A").map(_._2) == (76L to 100L).toSet, kept)
    // B keeps its top 5 (ids 215..219)
    assert(kept.filter(_._1 == "B").map(_._2) == (215L to 219L).toSet, kept)
    // constant group keeps everything; singleton survives
    assert(kept.count(_._1 == "C") == 5 && kept.contains(("D", 400L)))
    // per-group ≡ global when there is one group
    val one = df.filter(col("src") === "A")
    val g = TextOps.keepTopFraction(one, "score", 0.25, bins = 1000)
      .collect().map(_.getLong(1)).toSet
    val pg = TextOps.keepTopFractionByGroup(one, "score", "src", 0.25,
      bins = 1000).collect().map(_.getLong(1)).toSet
    assert(g == pg)
    // null scores never survive; null group is its own group
    val withNull = df.unionByName(Seq(
      (Option.empty[String], 500L, Option(50.0)),
      (Option.empty[String], 501L, Option(60.0)),
      (Option("A"), 502L, Option.empty[Double]))
      .toDF("src", "id", "score"))
    val kn = TextOps.keepTopFractionByGroup(withNull, "score", "src", 0.5,
      bins = 10).collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(kn.contains((None, 501L)) && !kn.exists(_._2 == 502L), kn)
  }

  test("rangeJoin ≡ naive BETWEEN join; binned plan, no nested loop") {
    import graft.operators.RangeJoin
    // facts spanning negatives, bin boundaries, and interval endpoints
    val facts = Seq(-150.0, -100.0, -0.01, 0.0, 49.99, 50.0, 99.99, 100.0,
      250.5, 999.0).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("fact_id", "v")
    // overlapping bands, a point interval, an inverted (lo > hi) one
    val dims = Seq(
      (1L, -120.0, -90.0), (2L, 0.0, 100.0), (3L, 50.0, 50.0),
      (4L, 40.0, 260.0), (5L, 300.0, 200.0)).toDF("band_id", "lo", "hi")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("fact_id", "band_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ≡ the naive cross-filter at several binWidths (replication factor
    // changes, pairs must not)
    val naive = rows(facts.crossJoin(dims)
      .filter(col("v") >= col("lo") && col("v") <= col("hi")))
    for (w <- Seq(1.0, 37.0, 100.0, 10000.0)) {
      val got = rows(RangeJoin(facts, dims, "v", "lo", "hi", w))
      assert(got == naive, s"binWidth=$w: $got vs $naive")
    }
    // endpoints inclusive, point interval hit, inverted interval empty
    assert(naive.contains((5L, 3L)) && naive.contains((7L, 2L)))
    assert(!naive.exists(_._2 == 5L))
    // the plan claim: an equi-join, never a nested loop / cartesian
    val plan = RangeJoin(facts, dims, "v", "lo", "hi", 100.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"non-equi plan:\n$plan")
    // colliding column names are rejected loudly
    intercept[IllegalArgumentException] {
      RangeJoin(facts, dims.withColumnRenamed("band_id", "fact_id"),
        "v", "lo", "hi", 1.0)
    }
    // suggested width ≈ median span; inverted intervals excluded; point
    // intervals fall back to 1.0
    val sw = RangeJoin.suggestBinWidth(dims, "lo", "hi")
    assert(sw == 30.0, s"median span $sw") // spans {30, 100, 0} → median 30
    assert(RangeJoin.suggestBinWidth(
      Seq((1L, 5.0, 5.0)).toDF("b", "lo", "hi"), "lo", "hi") == 1.0)
    assert(rows(RangeJoin(facts, dims, "v", "lo", "hi", sw)) == naive)
  }

  test("chunkDocs and RangeJoin run on streams (stateless / stream-static)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val rows = Seq((1L, toks(10)), (2L, toks(4)), (3L, toks(5)))
    // chunking is stateless (explode + slice), so the same call chains
    // onto a stream in append mode — batch ≡ streamed, batch boundaries
    // invisible
    val in = MemoryStream[(Long, String)]
    val q = TextOps.chunkDocs(in.toDF().toDF("doc_id", "text"), "text",
        "doc_id", maxTokens = 4, overlap = 1)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      in.addData(rows.take(2)); q.processAllAvailable()
      in.addData(rows.drop(2)); q.processAllAvailable()
      val got = spark.table("chunk_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSet
      val batch = TextOps.chunkDocs(rows.toDF("doc_id", "text"), "text",
          "doc_id", maxTokens = 4, overlap = 1)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSet
      assert(got == batch, got.toString)
    } finally q.stop()
    // the binned interval join is an equi-join, so STREAM-STATIC range
    // joins (events × IP/price bands) work where a BETWEEN condition on a
    // stream would plan a nested loop
    val fin = MemoryStream[(Long, Double)]
    val bands = Seq((1L, 0.0, 100.0), (2L, 50.0, 150.0)).toDF("band_id", "lo", "hi")
    val q2 = graft.operators.RangeJoin(fin.toDF().toDF("fact_id", "v"),
        bands, "v", "lo", "hi", binWidth = 100.0)
      .select("fact_id", "band_id")
      .writeStream.format("memory").queryName("rj_stream")
      .outputMode("append").start()
    try {
      fin.addData((1L, 75.0), (2L, 200.0)); q2.processAllAvailable()
      val got = spark.table("rj_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 1L), (1L, 2L)), got.toString)
    } finally q2.stop()
  }

  test("bm25ServeStream answers a query stream from the index, batch-equal") {
    import graft.text.Search
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val docs = (1L to 40L).map(i => (i,
      s"word$i common " + ("window " * (i % 4).toInt) +
        (if (i % 3 == 0) "merge scan " else "filler text ") + s"tail${i % 7}"))
      .toDF("doc_id", "text")
    for (t <- Seq("bm25_srv", "bm25_srv_stats"))
      graft.sources.Warehouse.dropTableAndLocation(spark, t)
    Search.writeBm25Index(docs, "text", "doc_id", "bm25_srv", buckets = 8)
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Double)]
    val in = MemoryStream[(String, String)]
    val q = Search.bm25ServeStream(in.toDF().toDF("query_id", "qtext"),
        "query_id", "qtext", "bm25_srv", "doc_id", topK = 5) { out =>
      collected.synchronized {
        collected ++= out.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      }
    }
    try {
      in.addData(("qa", "window merge")); q.processAllAvailable()
      in.addData(("qb", "common"), ("qc", "nosuchterm scan"))
      q.processAllAvailable()
      val got = collected.groupBy(_._1).map { case (k, v) =>
        k -> v.sortBy(x => (-x._3, x._2)).map(x => (x._2, x._3)).toSeq }
      for ((qid, text) <- Seq(("qa", "window merge"), ("qb", "common"),
          ("qc", "nosuchterm scan"))) {
        val want = Search.bm25Probe(spark, "bm25_srv", "doc_id", text,
          topK = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val gv = got.getOrElse(qid, Seq.empty)
        assert(gv.map(_._1) == want.map(_._1), s"$qid: $gv vs $want")
      }
    } finally q.stop()
  }

  test("rrfFuse: hand-computed fusion, rank-derived, per-query, topK cut") {
    import graft.text.Search
    // list A ranks (by score desc, id): 10→1, 20→2, 30→3 — input ROW
    // ORDER is scrambled to pin that ranks derive from scores, not order
    val a = Seq(("q1", 30L, 0.2), ("q1", 10L, 0.9), ("q1", 20L, 0.5),
      ("q2", 77L, 1.0)).toDF("qid", "id", "score")
    // list B ranks: 20→1, 40→2 (different score scale — only ranks matter)
    val b = Seq(("q1", 20L, 120.0), ("q1", 40L, 3.0)).toDF("qid", "id", "score")
    def rrf(ranks: Int*): Double = // Spark Round on double = HALF_UP
      BigDecimal.decimal(ranks.map(r => math.round(1e12 / (60.0 + r))).sum / 1e12)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Search.rrfFuse(Seq(a, b), "qid", "id", "score", topK = 3)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == Map(
      ("q1", 20L) -> rrf(2, 1), // in both lists: fused to the top
      ("q1", 10L) -> rrf(1),
      ("q1", 40L) -> rrf(2), // topK=3 cuts 30 (rank 3, ties with nothing)
      ("q2", 77L) -> rrf(1)), got.toString)
    // tie-break: equal fused scores order by id — topK=1 keeps the lower
    val t1 = Seq(("q", 5L, 1.0), ("q", 9L, 2.0)).toDF("qid", "id", "score")
    val t2 = Seq(("q", 9L, 1.0), ("q", 5L, 2.0)).toDF("qid", "id", "score")
    val cut = Search.rrfFuse(Seq(t1, t2), "qid", "id", "score", topK = 1)
      .collect().map(r => r.getLong(1)).toSeq
    assert(cut == Seq(5L), cut.toString)
  }

  test("lineStats: hand-computed line-shape fractions") {
    val text = "A full sentence here.\n- bullet item\nnav\n" +
      "this line just trails off...\n\n  \nAnother proper sentence ends!"
    // non-blank lines: 5 → end_punct: {sentence., trails off..., sentence!}
    // = 3/5; bullet 1/5; ellipsis 1/5; short (≤3 words): {- bullet item,
    // nav} = 2/5
    val r = Seq((1L, text), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"), TextOps.lineStats(col("text")).as("ls"))
      .select(col("id"), col("ls.*"))
      .collect().map(x => (x.getLong(0), x)).toMap
    val d1 = r(1L)
    assert(d1.getInt(1) == 5)
    assert(d1.getDouble(2) == 0.6)
    assert(d1.getDouble(3) == 0.2)
    assert(d1.getDouble(4) == 0.2)
    assert(d1.getDouble(5) == 0.4)
    // empty doc: 0 lines, null fractions
    assert(r(2L).getInt(1) == 0 && r(2L).isNullAt(2))
    // null text: size(null)= -1? no — split(null) is null → n null-safe
    assert(r(3L).isNullAt(2))
  }

  test("dedupLinesGlobal keeps corpus-first lines, blanks, drops replays") {
    import graft.dedup.Dedup
    val out = Dedup.dedupLinesGlobal(Seq(
      (1L, "nav menu\nunique one\n\nfooter"),
      (2L, "nav menu\nunique two\nfooter\nunique two b"),
      (3L, "nav menu\nfooter"), // pure boilerplate replay → disappears
      (4L, "x\nx\n\n\ny"), // within-doc repeat also collapses
      (5L, "\n\n"), // blank-only → no content → disappears
      (6L, null.asInstanceOf[String]))
      .toDF("id", "text"), "text", "id")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == ((3L, "nav menu\nunique one\n\nfooter")))
    assert(out(2L) == ((2L, "unique two\nunique two b")))
    assert(out(4L) == ((2L, "x\n\n\ny")))
    assert(out.keySet == Set(1L, 2L, 4L))
  }

  test("dedupLinesGlobal is partitioning-invariant and blank-skew-safe") {
    import graft.dedup.Dedup
    // 600 docs all sharing a hot boilerplate line + many blank lines;
    // unique body per doc — the hot line survives only in doc 1
    val docs = (1L to 600L).map(i =>
      (i, s"HOT BOILERPLATE\n\nbody $i\n\ntail $i")).toDF("id", "text")
    val out = Dedup.dedupLinesGlobal(docs.repartition(13), "text", "id")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    assert(out.size == 600)
    assert(out(1L)._2 == "HOT BOILERPLATE\n\nbody 1\n\ntail 1")
    assert(out(2L) == ((2L, "\nbody 2\n\ntail 2")))
    assert(out(600L)._1 == 2L)
  }

  test("dedupLinesGlobal: a line in every document keeps per-task shuffle reads flat") {
    import graft.dedup.Dedup
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.graftbridge.Bridge
    // docs and shuffle partitions both grow 4x (coalescing off, so the
    // configured count holds): uniformly spread rows keep the largest
    // per-task shuffle read flat, while a key whose one-row-per-doc set
    // sits in one task grows with the doc count. Two unique lines per doc
    // keep the hot line a large share of every stage's rows.
    val hot = "This site uses cookies. See our Privacy Policy for details."
    val maxTaskRows = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => maxTaskRows.getAndAccumulate(
          m.shuffleReadMetrics.recordsRead, math.max(_, _)))
    }
    def run(n: Int, parts: Int): Long = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val corpus = spark.range(n).select(col("id").as("doc_id"),
        concat(lit("u0 "), col("id"), lit("\nu1 "), col("id"), lit("\n" + hot))
          .as("text"))
        .repartition(8).cache()
      corpus.count()
      Bridge.drainListenerBus(spark)
      maxTaskRows.set(0L)
      val out = Dedup.dedupLinesGlobal(corpus, "text", "doc_id")
        .as[(Long, Long, String)].collect()
      Bridge.drainListenerBus(spark)
      corpus.unpersist()
      // every doc keeps its 2 unique lines; the hot line is kept once, in doc 0
      assert(out.length == n)
      out.foreach { case (id, kept, text) =>
        val want = s"u0 $id\nu1 $id" + (if (id == 0L) "\n" + hot else "")
        assert(kept == (if (id == 0L) 3L else 2L) && text == want,
          s"doc $id kept $kept: $text")
      }
      maxTaskRows.get
    }
    val confs = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      val small = run(500, 4)
      val big = run(2000, 16)
      assert(big.toDouble / small < 1.5,
        s"largest per-task shuffle read grew $small -> $big rows at 4x docs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("temperatureWeights flattens by q ∝ p^(1/T), preserving expected size") {
    // sources: A×8, B×2. T=2 → α=0.5: c^α = (2√2, √2), z = 3√2,
    // q = (2/3, 1/3), w = q/p·1 → (2/3·10/8, 1/3·10/2) = (5/6, 5/3)
    val df = ((1 to 8).map(i => (i.toLong, "A")) ++ Seq((9L, "B"), (10L, "B")))
      .toDF("doc_id", "source")
    val w2 = TextOps.temperatureWeights(df, "source", 2.0)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(w2 == Map("A" -> 0.833333, "B" -> 1.666667), s"T=2: $w2")
    // expected corpus size unchanged: Σ c_s·w_s = N
    assert(math.abs(8 * w2("A") + 2 * w2("B") - 10.0) < 1e-4)
    // T=1 is the identity; T→∞ approaches uniform-over-sources
    val w1 = TextOps.temperatureWeights(df, "source", 1.0)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(w1 == Map("A" -> 1.0, "B" -> 1.0), s"T=1: $w1")
    val wInf = TextOps.temperatureWeights(df, "source", 1e9)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(math.abs(wInf("A") - 0.625) < 1e-4 && math.abs(wInf("B") - 2.5) < 1e-4,
      s"T=inf: $wInf") // uniform: each source gets N/|S| expected docs
    intercept[IllegalArgumentException] {
      TextOps.temperatureWeights(df, "source", 0.0)
    }
  }

  test("corpusDiff reports added/removed/changed/unchanged, null-text-safe") {
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "alpha"), (3L, "gamma prime"),
      (4L, null.asInstanceOf[String]), (5L, "was null"), (6L, "delta"))
      .toDF("doc_id", "text")
    val got = TextOps.corpusDiff(old, neu, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "removed", 3L -> "changed",
      4L -> "unchanged", 5L -> "changed", 6L -> "added"), s"diff: $got")
  }

  test("exactKeepBest retains the argmax-score replica, min id on ties, without a window") {
    val pool = Seq(
      (1L, "shared content alpha", 0.2),
      (2L, "shared content alpha", 0.9), // winner: highest score
      (3L, "shared content alpha", 0.9), // same score, larger id → loses
      (4L, "unique content beta", 0.1),
      (5L, "shared content gamma", 0.5),
      (6L, "shared content gamma", 0.5)  // tie → min id 5 wins
    ).toDF("doc_id", "text", "score")
    val out = Dedup.exactKeepBest(pool, "text", "doc_id", col("score"))
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 4L, 5L))
    // the scale contract: an aggregation whose PARTIAL phase collapses
    // replicas before the exchange (struct-ordered min_by plans as a
    // SortAggregate), never a sort-shuffling window over every row
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"keep-best must not plan a window:\n$plan")
    assert(plan.contains("partial_min_by"), s"no map-side partial:\n$plan")
  }

  test("exactKeepBest ranks NULL scores last, never ahead of a scored replica") {
    // null sorts FIRST in Spark's struct ordering, so an uncoalesced
    // negate(score) would elect the unscored replica as "best" — the
    // opposite of any sensible retention policy
    val pool = Seq(
      (1L, "shared", Some(0.1)),
      (2L, "shared", None),        // unscored replica must lose to id 1
      (3L, "only nulls", None),
      (4L, "only nulls", None)     // all-null group: min id wins
    ).toDF("doc_id", "text", "score")
    val out = Dedup.exactKeepBest(pool, "text", "doc_id", col("score"))
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("normalizeUrl canonicalizes scheme/www/port/fragment/tracking/slash variants") {
    val cases = Seq(
      // every variant of the same page → one canonical form
      "https://www.Example.com/Path/Page?utm_source=x&id=7" -> "example.com/Path/Page?id=7",
      "http://example.com:80/Path/Page?id=7&utm_campaign=y#frag" -> "example.com/Path/Page?id=7",
      "HTTPS://EXAMPLE.COM:443/Path/Page?id=7" -> "example.com/Path/Page?id=7",
      // path case is preserved; host case is not
      "https://A.B.com/CaseSensitive" -> "a.b.com/CaseSensitive",
      // tracking-only query disappears entirely; trailing slash drops
      "https://example.com/p/?utm_medium=z" -> "example.com/p",
      "https://example.com/" -> "example.com",
      // adjacent tracking params collapse their separators
      "https://example.com/p?utm_a=1&utm_b=2&id=3&fbclid=z" -> "example.com/p?id=3",
      // non-default port and non-tracking params survive
      "https://example.com:8080/p?a=1&b=2" -> "example.com:8080/p?a=1&b=2",
      // fragments drop even with no query
      "https://example.com/p#section" -> "example.com/p")
    val got = cases.map(_._1).zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("id", "url")
      .select(col("id"), TextOps.normalizeUrl(col("url")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    for (((u, want), i) <- cases.zipWithIndex)
      assert(got(i.toLong) == want, s"$u → ${got(i.toLong)} (want $want)")
    // null propagates; dedup composes with Dedup.exact (keep-min per URL)
    val withNull = Seq((0L, null.asInstanceOf[String])).toDF("id", "url")
      .select(TextOps.normalizeUrl(col("url")).as("n")).head()
    assert(withNull.isNullAt(0))
    val dup = Seq(
      (10L, "https://www.example.com/p?id=1"),
      (11L, "http://example.com:80/p?id=1#top"),
      (12L, "https://other.com/p?id=1")).toDF("doc_id", "url")
      .withColumn("u", TextOps.normalizeUrl(col("url")))
    val kept = Dedup.exact(dup, "u", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(10L, 12L), s"url-dedup kept: $kept")
  }

  test("clusterSample keeps an exact per-cell quota; modes and salting agree with the naive rank") {
    // three well-separated direction clusters, 30 members each with
    // increasing off-axis drift (so within-cluster distances vary)
    val vecs = for (c <- 0 until 3; i <- 0 until 30) yield {
      val v = Array.fill(4)(0f)
      v(c) = 1f
      v(3) = 0.002f * i
      ((c * 100 + i).toLong, v.toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    // the FULL scored frame (quota ≥ membership) is the ground truth the
    // quota selections must agree with — no dependence on where Lloyd
    // puts the cells
    val full = Similarity.clusterSample(emb, "vec_id", "embedding",
        perCluster = 1000, nCentroids = 3, lloydIters = 3)
      .select("vec_id", "cell", "dist")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(full.length == 90)
    def expect(diverse: Boolean, n: Int): Set[Long] =
      full.groupBy(_._2).values.flatMap { cell =>
        val ranked = if (diverse) cell.sortBy(t => (-t._3, t._1))
        else cell.sortBy(t => (t._3, t._1))
        ranked.take(n).map(_._1)
      }.toSet
    for ((mode, diverse) <- Seq(("diverse", true), ("prototypical", false));
         parts <- Seq(1, 64)) {
      val got = Similarity.clusterSample(emb.repartition(7), "vec_id",
          "embedding", perCluster = 5, nCentroids = 3, lloydIters = 3,
          keep = mode, saltParts = parts)
        .select("vec_id").as[Long].collect().toSet
      assert(got == expect(diverse, 5),
        s"mode=$mode parts=$parts diverged from the naive rank")
    }
    // the two modes select from opposite ends of each cell
    assert(expect(true, 5).intersect(expect(false, 5)).size < 15)
    intercept[IllegalArgumentException] {
      Similarity.clusterSample(emb, "vec_id", "embedding", perCluster = 5,
        keep = "random")
    }
  }

  // --- near-dup pair explanation ------------------------------------------

  test("explainPairs: shared-gram evidence with integral ppm and min example") {
    import graft.dedup.Dedup
    val docs = Seq((1L, "a b c d"), (2L, "b c d e"), (3L, "x y"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val got = Dedup.explainPairs(docs, pairs, "text", "doc_id")
      .orderBy("a").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) -1 else r.getInt(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) null else r.getString(6)))
    // (1,2): grams {a b, b c, c d} vs {b c, c d, d e} → 2 shared of 4 union
    assert(got.toList == List(
      (1L, 2L, 3, 3, 2, 500000L, "b c"),
      (2L, 3L, 3, 1, 0, 0L, null),
      (3L, 4L, 1, -1, -1, -1L, null)), s"${got.toList}")
  }

  // --- MMR diversified reranking ----------------------------------------

  test("mmrRerank: the second pick trades relevance for diversity; " +
    "deterministic under layout") {
    import graft.similarity.Similarity
    // q = (1,1,0). c(id 3) is most relevant; a(id 1) and b(id 2) tie on
    // relevance (0.7071) but a is MORE similar to c (0.743 vs 0.669), so
    // MMR picks b second — pure relevance with id tie-break would pick a.
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(1f, 0.9f, 0f)),
      (9L, Seq(1f, 1f, 0f))) // the query vector
      .toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" === 9L)
    val got = Similarity.mmrRerank(emb, q, "vec_id", "embedding",
        k = 3, topN = 10, lambdaRel = 0.7)
      .orderBy("mmr_rank").collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(got.toList == List((1, 3L), (2, 2L), (3, 1L)), s"${got.toList}")
    // layout-invariant
    val got7 = Similarity.mmrRerank(emb.repartition(7), q, "vec_id",
        "embedding", k = 3, topN = 10, lambdaRel = 0.7)
      .orderBy("mmr_rank").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(got7.toList == got.toList)
    // k beyond the candidate count returns what exists; bad args throw
    assert(Similarity.mmrRerank(emb, q, "vec_id", "embedding",
      k = 9, topN = 10, lambdaRel = 0.7).count() == 3)
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(emb, q, "vec_id", "embedding", 5, 4, 0.7)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(emb, q, "vec_id", "embedding", 2, 10, 0.0)
    }
  }

  // --- gap fill + funnel ------------------------------------------------

  test("rateAnomalies: the integer cross-multiplied z-test flags a spike " +
    "after a full trailing frame, never during cold start") {
    import graft.operators.EventOps
    // base aligned to a 5-minute epoch boundary (1700000100000 ms =
    // 300 s × 5666667) so each fixture minute-offset lands in the
    // intended bucket
    def ts(min: Int) = new java.sql.Timestamp(1700000100000L + min * 60000L)
    // key "a": 12 buckets of exactly 2 events (σ = 0), then a bucket of
    // 3 — ANY deviation from a constant trail flags; then a 2 (no flag)
    val steady = (0 until 12).flatMap(b =>
      Seq((s"a", ts(b * 5)), ("a", ts(b * 5 + 1))))
    val spike = Seq(("a", ts(60)), ("a", ts(61)), ("a", ts(62)))
    val calm = Seq(("a", ts(65)), ("a", ts(66)))
    // key "b": too few buckets for a frame — never judged
    val cold = (0 until 5).map(b => ("b", ts(b * 5)))
    val ev = (steady ++ spike ++ calm ++ cold).toDF("k", "ts")
    val got = EventOps.rateAnomalies(ev, "k", "ts",
        bucketWidth = "5 minutes", trailing = 12, k = 3)
      .select("k", "n_events", "trailing_sum")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 3L, 24L)), s"$got")
    // noisy trail (variance > 0): a same-size bump inside 3σ stays quiet
    val noisy = (0 until 12).flatMap(b =>
      (0 until (if (b % 2 == 0) 1 else 3)).map(i => ("c", ts(b * 5 + i)))) ++
      Seq(("c", ts(60)), ("c", ts(61)), ("c", ts(62)))  // 3 vs mean 2, σ = 1
    assert(EventOps.rateAnomalies(noisy.toDF("k", "ts"), "k", "ts",
      trailing = 12, k = 3).count() == 0)
    intercept[IllegalArgumentException] {
      EventOps.rateAnomalies(ev, "k", "ts", trailing = 1)
    }
    intercept[IllegalArgumentException] {
      EventOps.rateAnomalies(ev, "k", "ts", k = 0)
    }
  }

  test("gapFill: empty buckets materialize with n=0 and forward-filled sums") {
    import graft.operators.EventOps
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 00:10:00"), 10.0),
      (1L, ts("2024-01-01 03:20:00"), 5.0),
      (2L, ts("2024-01-01 07:00:00"), 1.0)).toDF("user_id", "ts", "value")
    val got = EventOps.gapFill(ev, "user_id", "ts", "value")
      .orderBy("user_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString.take(13),
        r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(got.toList == List(
      (1L, "2024-01-01 00", 1L, 10.0, 1),
      (1L, "2024-01-01 01", 0L, 10.0, 0),
      (1L, "2024-01-01 02", 0L, 10.0, 0),
      (1L, "2024-01-01 03", 1L, 5.0, 1),
      (2L, "2024-01-01 07", 1L, 1.0, 1)), s"${got.toList}")
  }

  test("sessionPaths: gap-cut 8-prefix paths counted under a total order") {
    import graft.operators.EventOps
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1 session 1: a>b>c ; session 2 (after a 40-min gap): d
      (1L, ts("2024-01-01 00:00:00"), 1L, "a"),
      (2L, ts("2024-01-01 00:05:00"), 1L, "b"),
      (3L, ts("2024-01-01 00:10:00"), 1L, "c"),
      (4L, ts("2024-01-01 00:50:00"), 1L, "d"),
      // u2: a>b>c (same path as u1's first session)
      (5L, ts("2024-01-01 00:00:00"), 2L, "a"),
      (6L, ts("2024-01-01 00:01:00"), 2L, "b"),
      (7L, ts("2024-01-01 00:02:00"), 2L, "c"),
      // u3: ten events — the path truncates at the 8-prefix
      ) ++ (0 until 10).map(i =>
        (10L + i, ts(f"2024-01-01 01:${i}%02d:00"), 3L, s"e$i"))
    val got = EventOps.sessionPaths(
        ev.toDF("event_id", "ts", "user_id", "event_type"),
        "user_id", "event_type", "ts", gapSec = 1800, maxLen = 8, topK = 25)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toList == List(
      ("a>b>c", 2L), ("d", 1L),
      ("e0>e1>e2>e3>e4>e5>e6>e7", 1L)), s"${got.toList}")
    // topK truncates under the same total order
    val top1 = EventOps.sessionPaths(
        ev.toDF("event_id", "ts", "user_id", "event_type"),
        "user_id", "event_type", "ts", topK = 1)
      .collect().map(_.getString(0))
    assert(top1.toList == List("a>b>c"))
    intercept[IllegalArgumentException] {
      EventOps.sessionPaths(ev.toDF("event_id", "ts", "user_id",
        "event_type"), "user_id", "event_type", "ts", maxLen = 0)
    }
  }

  test("retention: hand-computed weekly cohort cells with integral ppm") {
    import graft.operators.EventOps
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 2024-01-01 is a Monday: W0 = 01-01, W1 = 01-08, W2 = 01-15
    val ev = Seq(
      (1L, ts("2024-01-03 10:00:00")), // u1 cohort W0
      (1L, ts("2024-01-16 10:00:00")), // u1 active W2
      (1L, ts("2024-01-17 11:00:00")), // same week — distinct collapses
      (2L, ts("2024-01-05 09:00:00")), // u2 cohort W0, never again
      (3L, ts("2024-01-08 00:00:00")), // u3 cohort W1 (boundary instant)
      (3L, ts("2024-01-19 23:00:00"))) // u3 active W2
      .toDF("user_id", "ts")
    val got = EventOps.retention(ev, "user_id", "ts")
      .orderBy("cohort", "week_offset").collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toList == List(
      ("2024-01-01", 0L, 2L, 2L, 1000000L),
      ("2024-01-01", 2L, 1L, 2L, 500000L),
      ("2024-01-08", 0L, 1L, 1L, 1000000L),
      ("2024-01-08", 1L, 1L, 1L, 1000000L)), s"${got.toList}")
  }

  test("funnel: first-touch chain with strict-after and inclusive window " +
    "boundaries") {
    import graft.operators.EventOps
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: full chain inside the windows
      (1L, "view", ts("2024-01-01 00:00:00")),
      (1L, "click", ts("2024-01-01 00:30:00")),
      (1L, "purchase", ts("2024-01-01 00:45:00")),
      // u2: click outside the 1h window → stops at step 1
      (2L, "view", ts("2024-01-01 00:00:00")),
      (2L, "click", ts("2024-01-01 01:00:01")),
      // u3: click at the SAME instant as view → strict-after excludes it
      (3L, "view", ts("2024-01-01 00:00:00")),
      (3L, "click", ts("2024-01-01 00:00:00")),
      // u4: no view → not in the funnel at all
      (4L, "click", ts("2024-01-01 00:10:00")),
      (4L, "purchase", ts("2024-01-01 00:20:00")),
      // u5: click at EXACTLY +1h (inclusive) but purchase BEFORE the
      // click → reaches step 2 only (purchases before step 2 don't count)
      (5L, "view", ts("2024-01-01 00:00:00")),
      (5L, "purchase", ts("2024-01-01 00:30:00")),
      (5L, "click", ts("2024-01-01 01:00:00")))
      .toDF("user_id", "event_type", "ts")
    val got = EventOps.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), withinSeconds = 3600L)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getInt(4)))
    assert(got.toList == List((1L, 3), (2L, 1), (3L, 1), (5L, 2)),
      s"${got.toList}")
    // first-touch: u1's step times are the earliest qualifying events
    val u1 = EventOps.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), 3600L)
      .filter($"user_id" === 1L).head()
    assert(u1.getTimestamp(1) == ts("2024-01-01 00:00:00") &&
      u1.getTimestamp(2) == ts("2024-01-01 00:30:00") &&
      u1.getTimestamp(3) == ts("2024-01-01 00:45:00"))
    // a 2-step funnel over the same data; bad arguments throw
    val two = EventOps.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "purchase"), 3600L)
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getInt(3)))
    assert(two.toList == List((1L, 2), (2L, 1), (3L, 1), (5L, 2)))
    intercept[IllegalArgumentException] {
      EventOps.funnel(ev, "user_id", "event_type", "ts", Seq("view"), 3600L)
    }
    // repeated step types (the re-engagement funnel): each occurrence is
    // still a MIN strictly after the previous step's time — u5 has one
    // view then one click then nothing, so view>click>view stops at 2
    val rep = EventOps.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "view"), 3600L)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getInt(4)))
    assert(rep.toList == List((1L, 2), (2L, 1), (3L, 1), (5L, 2)),
      s"${rep.toList}")
    // Materialize.Off restores the lazy (unmaterialized) form — same rows
    val lazyGot = EventOps.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), 3600L,
        materialize = graft.pipeline.Materialize.Off)
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getInt(4)))
    assert(lazyGot.toList == List((1L, 3), (2L, 1), (3L, 1), (5L, 2)))
  }

  test("decayedSum: exact power-of-two weights, bucket truncation, " +
    "post-asOf events excluded") {
    import graft.operators.EventOps
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val asOf = ts("2024-01-11 00:00:00")
    val ev = Seq(
      // u1: 8.0 in bucket 0 (same day), 4.0 in bucket 1, 2.0 in bucket 2
      (1L, ts("2024-01-10 12:00:00"), 8.0),
      (1L, ts("2024-01-09 12:00:00"), 4.0),
      (1L, ts("2024-01-08 12:00:00"), 2.0),
      // u2: only a post-asOf event → filtered out entirely, no row
      (2L, ts("2024-01-12 00:00:00"), 100.0),
      // u3: exactly at asOf → bucket 0; plus one beyond the 3-bucket
      // horizon → dropped by truncation
      (3L, ts("2024-01-11 00:00:00"), 1.0),
      (3L, ts("2024-01-01 00:00:00"), 1000.0)
    ).toDF("user_id", "ts", "value")
    val got = EventOps.decayedSum(ev, "user_id", "ts", "value", asOf,
        halfLifeSeconds = 86400L, maxBuckets = 3)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // u1: 8·2^0? no — 8.0 is 0.5 days old → bucket 0 weight 1; 4.0 is
    // 1.5 days → bucket 1 weight 0.5; 2.0 is 2.5 days → bucket 2
    // weight 0.25 ⇒ 8 + 2 + 0.5 = 10.5 exactly (all powers of two)
    assert(got.toList == List((1L, 10.5), (3L, 1.0)), s"${got.toList}")
    intercept[IllegalArgumentException] {
      EventOps.decayedSum(ev, "user_id", "ts", "value",
        new java.sql.Timestamp(asOf.getTime + 1), 86400L)
    }
    intercept[IllegalArgumentException] {
      EventOps.decayedSum(ev, "user_id", "ts", "value", asOf, 0L)
    }
  }

  test("retentionCalendar: month cohorts use calendar arithmetic, not " +
    "fixed-length division") {
    import graft.operators.EventOps
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1 cohort Jan; active again Feb (28 days — 31-day division
      // would call Jan-31→Feb-29 "offset 0") and Apr
      (1L, ts("2024-01-31 10:00:00")),
      (1L, ts("2024-02-29 10:00:00")),
      (1L, ts("2024-04-01 00:00:00")),
      // u2 cohort Jan, never again
      (2L, ts("2024-01-05 09:00:00")),
      // u3 cohort Mar (boundary instant), active Apr twice — distinct
      // collapses the second April row
      (3L, ts("2024-03-01 00:00:00")),
      (3L, ts("2024-04-20 23:00:00")),
      (3L, ts("2024-04-25 01:00:00")))
      .toDF("user_id", "ts")
    val got = EventOps.retentionCalendar(ev, "user_id", "ts", "month")
      .orderBy("cohort", "period_offset").collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toList == List(
      ("2024-01-01", 0L, 2L, 2L, 1000000L),
      ("2024-01-01", 1L, 1L, 2L, 500000L),
      ("2024-01-01", 3L, 1L, 2L, 500000L),
      ("2024-03-01", 0L, 1L, 1L, 1000000L),
      ("2024-03-01", 1L, 1L, 1L, 1000000L)), s"${got.toList}")
    // quarter offsets are month offsets div 3; years div 12
    val q = EventOps.retentionCalendar(ev, "user_id", "ts", "quarter")
      .orderBy("cohort", "period_offset").collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1)))
    assert(q.toList == List(
      ("2024-01-01", 0L), ("2024-01-01", 1L)), s"${q.toList}")
    intercept[IllegalArgumentException] {
      EventOps.retentionCalendar(ev, "user_id", "ts", "week")
    }
  }
}
